package graft

import graft.operators.{Fan, OrderedBins}
import org.apache.spark.sql.functions._
import graft.queries.{Analytic, Curation, GraphOps, Similarity, Stats,
  TextAnalysis}

/** Independent-reimplementation nets for the round-10 operator family
  * (q153–q159): each test recomputes the operator's answer with a plain
  * driver-side Scala algorithm over a collected corpus (a DIFFERENT
  * computation path than both the Spark plan and the DuckDB oracle) and
  * demands exact agreement, plus closed-form ground truth where one
  * exists (noiseless OLS).
  */
class StatsSpec extends SparkSpec {

  test("olsFit recovers exact coefficients on a noiseless plane") {
    import spark.implicits._
    // y(cents) = 700 + 200·x1 − 50·x2 exactly → β = (7, 2, −0.5) at
    // yScale 100. A second group with a different plane proves per-group
    // isolation.
    val rows =
      (for (x1 <- 1L to 20L; x2 <- 0L to 10L)
        yield ("g1", x1, x2, 700L + 200L * x1 - 50L * x2)) ++
        (for (x1 <- 1L to 15L; x2 <- 0L to 8L)
          yield ("g2", x1, x2, -100L + 300L * x1 + 25L * x2))
    val out = Stats.olsFit(rows.toDF("g", "x1", "x2", "y"), yScale = 100.0)
      .collect().map(r => r.getString(0) ->
        (r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(out("g1") === ((7.0, 2.0, -0.5)))
    assert(out("g2") === ((-1.0, 3.0, 0.25)))
  }

  test("q154 A/B counts and z² match a driver-side reimplementation") {
    val got = Stats.q154AbTest.fn(spark, sf).collect().map { r =>
      r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), if (r.isNullAt(7)) None else Some(r.getDouble(7))))
    }.toMap
    // independent path: raw event rows → MessageDigest md5 variant →
    // count arms and ≥15-event converters in plain Scala
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), col("event_type")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def variant(u: Long): Int = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"ab|$u".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      Integer.parseInt(hex.substring(0, 1), 16) % 2
    }
    val users = ev.map(_._1).distinct
    val n = Array(0L, 0L)
    users.foreach(u => n(variant(u)) += 1)
    val perType = ev.groupBy(_._2).map { case (t, rows) =>
      val x = Array(0L, 0L)
      rows.groupBy(_._1).foreach { case (u, es) =>
        if (es.length >= 15) x(variant(u)) += 1
      }
      t -> x
    }
    assert(got.keySet === perType.keySet)
    for ((t, x) <- perType) {
      val (x1, n1, x2, n2, z2) = got(t)
      assert((x1, n1, x2, n2) === ((x(0), n(0), x(1), n(1))),
        s"arm counts for $t")
      val xx = x1 + x2; val nn = n1 + n2
      if (n1 * n2 == 0 || xx * (nn - xx) == 0) assert(z2.isEmpty)
      else {
        val dnum = (x1 * n2 - x2 * n1).toDouble
        val expect = dnum * dnum * nn / (n1 * n2) / (xx * (nn - xx))
        assert(z2.isDefined && math.abs(z2.get - expect) < 1e-6,
          s"z² for $t: got $z2 expect $expect")
      }
    }
  }

  test("q157 BFS equals a driver-side BFS over the same graph") {
    val got = GraphOps.q157BfsHops.fn(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val baskets = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_partkey")).distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val pairCounts = baskets.groupBy(_._1).values.flatMap { items =>
      val ps = items.map(_._2).distinct.sorted
      for (i <- ps.indices; j <- i + 1 until ps.length) yield (ps(i), ps(j))
    }.groupBy(identity).map { case (p, o) => p -> o.size }
    val adj = pairCounts.filter(_._2 >= 2).keys
      .flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val seeds = Tables.part(spark, sf).filter(col("p_size") === 1)
      .select(col("p_partkey")).collect().map(_.getLong(0)).toSet
    var dist = seeds.map(_ -> 0L).toMap
    for (h <- 1 to 4) {
      val next = dist.keys.flatMap(adj.get).flatten
        .filterNot(dist.contains).map(_ -> h.toLong).toMap
      dist = dist ++ next
    }
    assert(got === dist)
  }

  test("q158 equals a driver-side interval merge") {
    val got = Analytic.q158IntervalCoalesce.fn(spark, sf).collect().map { r =>
      r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))
    }.toMap
    val iv = Tables.events(spark, sf)
      .filter(col("ts").isNotNull && col("value").isNotNull)
      .select(col("user_id"), expr("unix_micros(ts)"), col("value"))
      .collect().map { r =>
        val s = r.getLong(1)
        val dur = 60L + ((math.floor(r.getDouble(2)).toLong % 3540) + 3540) % 3540
        (r.getLong(0), s, s + dur * 1000000L)
      }
    val expect = iv.groupBy(_._1).map { case (u, rows) =>
      val sorted = rows.map(t => (t._2, t._3)).sortBy(identity)
      val spans = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
      for ((s, e) <- sorted) {
        if (spans.nonEmpty && s <= spans.last._2)
          spans(spans.length - 1) =
            (spans.last._1, math.max(spans.last._2, e))
        else spans += ((s, e))
      }
      u -> ((spans.length.toLong, spans.map(p => p._2 - p._1).sum,
        spans.map(p => p._2 - p._1).max))
    }
    assert(got === expect)
  }

  test("bpeMergeTable matches a driver-side BPE trainer, incl. run quirk") {
    import spark.implicits._
    // synthetic corpus with a repeated-run word to pin the separator-
    // consumption convention, plus sf0.001 documents for corpus realism
    val synth = Seq(
      "banana banana banana bandana aaaaa aaaaa cab cab cab cab",
      "banana bandana anna anna anna cab dab").toDF("text")
    for ((docs, label) <- Seq(
        (synth, "synthetic"),
        (Fan.fan(Tables.documents(spark, sf)), "sf0.001"))) {
      val got = TextAnalysis.bpeMergeTable(docs, 3).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2),
          r.getLong(4)))
      // independent trainer: vocab as symbol vectors; merge = greedy-left
      // scan that skips the symbol after each match (the consumed-
      // separator convention the padded string replace implements)
      var vocab = docs.select(explode(split(col("text"), " ")).as("w"))
        .filter(col("w").rlike("^[a-z]{2,}$"))
        .groupBy(col("w")).agg(count(lit(1)).as("f")).collect()
        .map(r => r.getString(0).map(_.toString).toVector -> r.getLong(1))
      val expect = (1 to 3).map { round =>
        val counts = scala.collection.mutable.Map[(String, String), Long]()
        for ((syms, f) <- vocab; i <- 0 until syms.length - 1)
          counts((syms(i), syms(i + 1))) =
            counts.getOrElse((syms(i), syms(i + 1)), 0L) + f
        val (l, r) = counts.keys.minBy { case (a, b) =>
          (-counts((a, b)), a, b) }
        val cnt = counts((l, r))
        vocab = vocab.map { case (syms, f) =>
          val out = scala.collection.mutable.ArrayBuffer[String]()
          var i = 0
          while (i < syms.length) {
            if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
              out += l + r
              if (i + 2 < syms.length) out += syms(i + 2) // ineligible
              i += 3
            } else { out += syms(i); i += 1 }
          }
          out.toVector -> f
        }
        (round.toLong, l, r, cnt)
      }
      assert(got.toSeq === expect, s"merge table on $label corpus")
    }
  }

  test("q160 AUC matches a driver-side midrank computation") {
    val got = Stats.q160Auc.fn(spark, sf).collect()
      .map(r => r.getString(0) -> r.getDouble(3)).toMap
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), col("event_type")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val users = ev.map(_._1).distinct
    val purchases = ev.filter(_._2 == "purchase").groupBy(_._1)
      .map { case (u, e) => u -> e.length }
    val pos = users.filter(u => purchases.getOrElse(u, 0) >= 15).toSet
    for (t <- ev.map(_._2).distinct) {
      val byUser = ev.filter(_._2 == t).groupBy(_._1)
        .map { case (u, e) => u -> e.length.toLong }
      val scores = users.map(u => (byUser.getOrElse(u, 0L), pos.contains(u)))
      // midranks: sort ascending; tied block [i, j) gets rank (i+j+1)/2
      val sorted = scores.sortBy(_._1)
      var i = 0; var rankSumPos = 0.0
      while (i < sorted.length) {
        var j = i
        while (j < sorted.length && sorted(j)._1 == sorted(i)._1) j += 1
        val mid = (i + 1 + j).toDouble / 2 // avg of ranks i+1..j
        for (k <- i until j if sorted(k)._2) rankSumPos += mid
        i = j
      }
      val np = pos.size.toLong; val nn = users.length - np
      val u = rankSumPos - np.toDouble * (np + 1) / 2
      val expect = u / (np.toDouble * nn)
      // ratio6 is half-up at 1e-6; the driver-side value is exact rational
      assert(math.abs(got(t) - expect) <= 5e-7, s"AUC for $t")
    }
    assert(got("purchase") === 1.0,
      "score >= 15 iff label => perfect separation by construction")
  }

  test("q161 decile table partitions users and captures all converters") {
    val rows = Stats.q161LiftTable.fn(spark, sf).collect()
    assert(rows.map(_.getLong(0)).toSeq === (1L to 10L))
    val sizes = rows.map(_.getLong(1))
    assert(sizes.max - sizes.min <= 1, "ntile deciles differ by at most 1")
    val nUsers = Tables.events(spark, sf)
      .select(col("user_id")).distinct().count()
    assert(sizes.sum === nUsers)
    assert(rows.last.getDouble(4) === 1.0, "last cumulative capture = 1")
    // capture is monotone
    val caps = rows.map(_.getDouble(4))
    assert(caps.zip(caps.tail).forall { case (a, b) => a <= b })
  }

  test("q162 Welch t² matches a driver-side computation") {
    val got = Stats.q162WelchT.fn(spark, sf).collect()
      .map(r => r.getString(0) -> r.getDouble(5)).toMap
    val ev = Tables.events(spark, sf)
      .filter(col("value").isNotNull)
      .select(col("user_id"), col("event_type"), col("value")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    def variant(u: Long): Int = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"ab|$u".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      Integer.parseInt(hex.substring(0, 1), 16) % 2
    }
    for ((t, rows) <- ev.groupBy(_._2)) {
      val arms = rows.groupBy(r => variant(r._1)).map { case (v, rs) =>
        val xs = rs.map(r => math.round(100 * r._3)) // exact centi longs
        v -> ((xs.length.toLong, xs.sum, xs.map(x => x * x).sum))
      }
      val (n1, sx1, sq1) = arms(0); val (n2, sx2, sq2) = arms(1)
      def vOf(n: Long, sx: Long, sq: Long) =
        (n.toDouble * sq - sx.toDouble * sx) / n / (n - 1) / 1e4
      val dm = sx1.toDouble / (n1 * 100) - sx2.toDouble / (n2 * 100)
      val expect = dm * dm / (vOf(n1, sx1, sq1) / n1 + vOf(n2, sx2, sq2) / n2)
      assert(math.abs(got(t) - expect) <= 1e-6, s"t² for $t")
    }
  }

  test("q153 lift/support identities hold and pairs are symmetric-safe") {
    val rows = queries.ScaleOps.q153BasketLift.fn(spark, sf).collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val (a, b, cab, ca, cb, n) = (r.getLong(0), r.getLong(1),
        r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(a < b, "canonical pair order")
      assert(cab >= 2 && cab <= math.min(ca, cb),
        "co-occurrence bounded by item supports")
      assert(ca <= n && cb <= n)
      val lift = r.getDouble(8)
      // ratio6 is exact integer rounding of cab·n/(ca·cb)
      val expect = ((2L * cab * n * 1000000L + ca * cb) /
        (2L * ca * cb)).toDouble / 1e6
      assert(lift === expect, s"lift for ($a,$b)")
    }
  }

  test("q163 Spearman matches a driver-side midrank reimplementation") {
    val got = Stats.q163SpearmanCorr.fn(spark, sf).collect()
      .map(r => r.getString(0) ->
        (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    // independent path: collect raw events, per-(type,user) (f, m), sort
    // to assign midranks, Pearson with the SAME fixed-order double ops
    val raw = Tables.events(spark, sf)
      .select(col("event_type"), col("user_id"), col("value")).collect()
      .map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) 0L else math.round(100 * r.getDouble(2))))
    val byType = raw.groupBy(_._1)
    assert(got.keySet === byType.keySet)
    for ((t, rows) <- byType) {
      // .toSeq BEFORE .map: mapping the Map to (f, sum) pairs would
      // rebuild a Map keyed on f and silently drop tied users
      val pu = rows.groupBy(_._2).toSeq.map { case (_, es) =>
        (es.length.toLong, es.map(_._3).sum)
      }
      def mid2(vals: Seq[Long]): Map[Long, Long] = {
        val runs = vals.groupBy(identity).toSeq.sortBy(_._1)
        var before = 0L
        runs.map { case (v, g) =>
          val m = 2 * before + g.length + 1
          before += g.length
          v -> m
        }.toMap
      }
      val mf = mid2(pu.map(_._1)); val mm = mid2(pu.map(_._2))
      val xy = pu.map { case (f, m) => (mf(f), mm(m)) }
      val n = xy.length.toLong
      val sx = xy.map(_._1).sum; val sy = xy.map(_._2).sum
      val sxy = xy.map(p => p._1 * p._2).sum
      val sxx = xy.map(p => p._1 * p._1).sum
      val syy = xy.map(p => p._2 * p._2).sum
      val den = math.sqrt(n.toDouble * sxx - sx.toDouble * sx) *
        math.sqrt(n.toDouble * syy - sy.toDouble * sy)
      val expect =
        if (den == 0) None
        else Some(BigDecimal((n.toDouble * sxy - sx.toDouble * sy) / den)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      assert(got(t) === expect, s"rho for $t")
    }
  }

  test("q164 bootstrap weights replay from MessageDigest and the CI " +
      "brackets the point estimate on this fixture") {
    val out = Stats.q164BootstrapCi.fn(spark, sf).collect()
    assert(out.nonEmpty)
    for (r <- out) {
      val (est, lo, hi) = (r.getDouble(2), r.getDouble(3), r.getDouble(4))
      assert(lo <= hi, s"CI ordered for ${r.getString(0)}")
      // not a theorem, but deterministic on this fixture — 64 Poisson
      // replicates of n≥190 events bracket the mean comfortably
      assert(lo <= est && est <= hi, s"CI brackets est for ${r.getString(0)}")
    }
    // weight draw replay: same md5 → same inverse-CDF bucket (thresholds
    // are the floor(CDF·16⁶) literals; recompute CDF here independently)
    val cdf = {
      var c = 0.0; var f = 1.0
      (0 to 5).map { k =>
        if (k > 0) f *= k
        c += 1.0 / f
        math.floor(math.exp(-1) * c * 16777216).toLong
      }
    }
    // replicate r reads digest r/5, 6-hex slice r%5 (the array-slicing
    // md5 budget the engine uses)
    def weight(r: Int, id: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"bs|${r / 5}|$id".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      val j = (r % 5) * 6
      val u = java.lang.Long.parseLong(hex.substring(j, j + 6), 16)
      cdf.indexWhere(u < _) match { case -1 => 6L; case k => k.toLong }
    }
    // replay one replicate mean end to end for event_type 'click', r=7
    val ev = Tables.events(spark, sf)
      .filter(col("value").isNotNull && col("event_type") === "click")
      .select(col("event_id"), col("value")).collect()
      .map(r => (r.getLong(0), math.round(100 * r.getDouble(1))))
    val sw = ev.map(e => weight(7, e._1)).sum
    val swx = ev.map(e => weight(7, e._1) * e._2).sum
    val expect = ((2L * swx * 1000000L + 100L * sw) /
      (2L * 100L * sw)).toDouble / 1e6
    // recompute the same replicate through the engine's pipeline shape
    val got = {
      val e = Tables.events(spark, sf).filter(col("value").isNotNull
          && col("event_type") === "click")
        .select(col("event_type"), col("event_id"),
          expr("CAST(round(100 * value) AS BIGINT)").as("x"),
          lit(7).as("r"))
      val u = conv(expr(
        "substr(md5('bs|' || CAST(r div 5 AS STRING) || '|' " +
          "|| CAST(event_id AS STRING)), CAST((r % 5) * 6 + 1 AS INT), 6)"),
        16, 10).cast("long")
      e.withColumn("w",
          when(u < cdf(0), 0L).when(u < cdf(1), 1L).when(u < cdf(2), 2L)
            .when(u < cdf(3), 3L).when(u < cdf(4), 4L).when(u < cdf(5), 5L)
            .otherwise(6L))
        .agg(sum(col("w") * col("x")).as("swx"), sum(col("w")).as("sw"))
        .select(graft.functions.Exact.ratio6("swx", "100 * sw").as("m"))
        .head.getDouble(0)
    }
    assert(got === expect, "replicate-7 mean replays from MessageDigest")
  }

  test("q177 CUPED replays from driver-side moments and keeps the " +
      "zero-bias identity") {
    val rows = Stats.q177Cuped.fn(spark, sf).collect()
    assert(rows.length === 2)
    // independent path: per-user dollar totals + md5 variant in Scala
    val ev = Tables.events(spark, sf)
      .filter(col("ts").isNotNull && col("user_id").isNotNull)
      .select(col("user_id"), col("value"), expr("unix_micros(ts)"))
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getDouble(1)), r.getLong(2)))
    val mid = (ev.map(_._3).min + ev.map(_._3).max) / 2
    def cents(v: Option[Double]) = v.map(x => math.round(100 * x)).getOrElse(0L)
    val users = ev.groupBy(_._1).map { case (u, g) =>
      val x = g.filter(_._3 <= mid).map(e => cents(e._2)).sum / 100
      val y = g.filter(_._3 > mid).map(e => cents(e._2)).sum / 100
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"ab|$u".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      (u, x, y, Integer.parseInt(hex.substring(0, 1), 16) % 2)
    }.toSeq
    val n = users.length.toLong
    val sx = users.map(_._2).sum; val sy = users.map(_._3).sum
    val sxx = users.map(u => u._2 * u._2).sum
    val sxy = users.map(u => u._2 * u._3).sum
    val syy = users.map(u => u._3 * u._3).sum
    val covN = n.toDouble * sxy - sx.toDouble * sy
    val varX = n.toDouble * sxx - sx.toDouble * sx
    val varY = n.toDouble * syy - sy.toDouble * sy
    val theta = covN / varX
    def r6(d: Double) = BigDecimal(d)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    for (r <- rows) {
      val v = r.getLong(0).toInt
      val arm = users.filter(_._4 == v)
      val na = arm.length.toLong
      val (ax, ay) = (arm.map(_._2).sum, arm.map(_._3).sum)
      assert(r.getLong(1) === na)
      assert(r.getDouble(2) ===
        ((2L * ay * 1000000L + na) / (2L * na)).toDouble / 1e6, "mean_y")
      val adj = ay.toDouble / na.toDouble -
        theta * (ax.toDouble / na.toDouble - sx.toDouble / n.toDouble)
      assert(r.getDouble(3) === r6(adj), s"mean_y_adj arm $v")
      assert(r.getDouble(4) === r6(theta), "theta")
      assert(r.getDouble(5) === r6(covN * covN / (varX * varY)), "rho2")
      assert(r.getDouble(5) >= 0.0 && r.getDouble(5) <= 1.0)
    }
    // zero-bias: the n-weighted mean of adjusted means equals the pooled
    // raw mean up to the two 1e-6 roundings
    val pooledRaw = sy.toDouble / n
    val pooledAdj = rows.map(r => r.getLong(1) * r.getDouble(3)).sum / n
    assert(math.abs(pooledAdj - pooledRaw) < 2e-6, "zero-bias identity")
  }

  test("q192 mSPRT: null corpus never rejects; planted effect rejects; " +
      "p is monotone nonincreasing") {
    // real corpus = the null (arms are md5 noise): always-valid means the
    // p-value NEVER crosses α under no effect, at ANY look
    val real = Stats.q192Msprt.fn(spark, sf).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(4)) None else Some(r.getDouble(4)),
        r.getString(5) == "reject"))
    assert(real.nonEmpty)
    assert(real.forall(!_._3), "null corpus must never reject")
    val ps = real.flatMap(_._2)
    assert(ps.zip(ps.tail).forall { case (a, b) => b <= a + 1e-9 },
      "always-valid p must be monotone nonincreasing")

    // planted effect: variant-0 users spend 10 dollars more per event —
    // the monitor must reject, and reject PERMANENTLY (monotone p)
    import spark.implicits._
    def variant(u: Long): Int = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"ab|$u".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      Integer.parseInt(hex.substring(0, 1), 16) % 2
    }
    val d = "/tmp/graft_msprt_effect"
    val rows = for {
      day <- 0 until 10; u <- 1L to 40L; k <- 0 until 3
    } yield {
      val base = 50.0 + (u % 7).toDouble + k
      val lift = if (variant(u) == 0) 10.0 else 0.0
      ((day * 1000 + u * 10 + k).toLong,
        (86400L * day + 3600 * k) * 1000000000L, u, "t", base + lift, "{}")
    }
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/events.parquet")
    val got = SparkEntry.queries("q192_msprt")(spark, d).collect()
      .map(r => (r.getLong(0), r.getDouble(3), r.getDouble(4),
        r.getString(5) == "reject"))
    assert(got.last._4, s"planted 10-dollar effect must reject: ${got.toSeq}")
    assert(got.last._2 > 900, "theta must recover ~1000 cents")
    val ps2 = got.map(_._3)
    assert(ps2.zip(ps2.tail).forall { case (a, b) => b <= a + 1e-9 })
  }

  test("q197 Benford digits via ARITHMETIC (not strings) and χ² replay") {
    val rows = Stats.q197BenfordAudit.fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(5)))
    val cents = Tables.orders(spark, sf)
      .filter(col("o_totalprice").isNotNull)
      .select(expr("CAST(round(100 * o_totalprice) AS BIGINT)").as("c"))
      .collect().map(_.getLong(0)).filter(_ > 0)
    // leading digit by repeated integer division — no string path at all
    def lead(n0: Long): Long = { var n = n0; while (n >= 10) n /= 10; n }
    val want = cents.groupBy(lead).map { case (k, v) => k -> v.length.toLong }
    for ((digit, obs, _) <- rows)
      assert(obs === want.getOrElse(digit, 0L), s"digit $digit count")
    assert(rows.map(_._2).sum === cents.length.toLong)
    val n = cents.length.toDouble
    val chi2 = (1 to 9).map { dd =>
      val p = math.log((dd + 1.0) / dd) / math.log(10.0)
      val e = n * p
      val o = want.getOrElse(dd.toLong, 0L).toDouble
      (o - e) * (o - e) / e
    }.sum
    assert(math.abs(rows.head._3 - chi2) / chi2 < 1e-5,
      s"chi2 ${rows.head._3} vs full-precision replay $chi2")
  }

  test("q200 contingency: margins exact; χ²/V/MI replay at full precision") {
    val rows = Stats.q200ContingencyAssoc.fn(spark, sf).collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getLong(2),
        r.getDouble(5), r.getDouble(6), r.getDouble(7), r.getDouble(8)))
    val pairs = Tables.documents(spark, sf)
      .filter(col("lang").isNotNull && col("source").isNotNull)
      .select(col("lang"), col("source")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val cellW = pairs.groupBy(identity).map { case (k, v) => k -> v.length }
    val rW = pairs.groupBy(_._1).map { case (k, v) => k -> v.length }
    val cW = pairs.groupBy(_._2).map { case (k, v) => k -> v.length }
    val n = pairs.length.toDouble
    assert(rows.length === rW.size * cW.size, "dense grid covers all cells")
    for ((k, o, _, _, _, _) <- rows)
      assert(o === cellW.getOrElse(k, 0).toLong, s"cell $k")
    // full-precision math.log replay (engine used float-cast ln)
    var chi2 = 0.0; var mi = 0.0
    for (r <- rW.keys; c <- cW.keys) {
      val o = cellW.getOrElse((r, c), 0).toDouble
      val e = rW(r) * cW(c) / n
      chi2 += (o - e) * (o - e) / e
      if (o > 0) mi += (o / n) * math.log(o / e)
    }
    def h(m: Iterable[Int]) = -m.map(x => x / n * math.log(x / n)).sum
    val v = math.sqrt(chi2 / (n * math.min(rW.size - 1, cW.size - 1)))
    val nmi = mi / math.sqrt(h(rW.values) * h(cW.values))
    val (_, _, gchi2, gv, gmi, gnmi) = rows.head
    assert(math.abs(gchi2 - chi2) / chi2 < 1e-5, s"chi2 $gchi2 vs $chi2")
    assert(math.abs(gv - v) < 1e-5, s"V $gv vs $v")
    assert(math.abs(gmi - mi) < 1e-5, s"MI $gmi vs $mi")
    assert(math.abs(gnmi - nmi) < 1e-4, s"NMI $gnmi vs $nmi")
    assert(mi >= -1e-12, "MI is nonnegative")
  }

  test("q204 MASE replays from a driver-side dense-series computation") {
    val got = Stats.q204MaseEval.fn(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4))).toMap
    val ev = Tables.events(spark, sf).filter(col("ts").isNotNull)
      .select(col("event_type"), expr("unix_micros(ts) div 3600000000"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    for ((t, rows) <- ev.groupBy(_._1)) {
      val byHour = rows.groupBy(_._2).map { case (m, v) => m -> v.length.toLong }
      val m0 = byHour.keys.min; val m1 = byHour.keys.max
      val xs = (m0 to m1).map(m => byHour.getOrElse(m, 0L)).toArray
      val hodOf = (i: Int) => ((m0 + i) % 24).toInt
      val hodMean = xs.indices.groupBy(hodOf).map { case (h, is) =>
        h -> is.map(xs(_)).sum.toDouble / is.length
      }
      val mae = xs.indices.map(i => math.abs(xs(i) - hodMean(hodOf(i)))).sum /
        xs.length.toDouble
      val naive = (24 until xs.length).map(i => math.abs(xs(i) - xs(i - 24)))
      val naiveMae = naive.sum.toDouble / naive.length
      val (nh, gmae, gnaive, gmase) = got(t)
      assert(nh === xs.length.toLong, s"$t span")
      assert(math.abs(gmae - mae) < 1e-5, s"$t mae $gmae vs $mae")
      assert(math.abs(gnaive - naiveMae) < 1e-6, s"$t naive")
      assert(math.abs(gmase - mae / naiveMae) < 1e-5, s"$t mase")
    }
  }

  test("q205 kappa replays from the probability-form definition; κ ≤ 1") {
    val rows = Stats.q205CohensKappa.fn(spark, sf).collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getLong(2),
        r.getDouble(5), r.getDouble(6), r.getDouble(7)))
    val docs = Tables.documents(spark, sf).filter(col("text").isNotNull)
      .select(col("text")).collect().map(_.getString(0))
    def labA(t: String) =
      if (t.length < 200) "short" else if (t.length < 350) "medium" else "long"
    def labB(t: String) = {
      val k = t.split(" ", -1).length
      if (k < 35) "short" else if (k < 60) "medium" else "long"
    }
    val cellW = docs.groupBy(t => (labA(t), labB(t)))
      .map { case (k, v) => k -> v.length.toLong }
    for ((k, cnt, _, _, _) <- rows)
      assert(cnt === cellW.getOrElse(k, 0L), s"cell $k")
    val n = docs.length.toDouble
    // probability form (the engine used the integer rational form)
    val po = cellW.collect { case ((a, b), c) if a == b => c }.sum / n
    val labs = Seq("short", "medium", "long")
    val pe = labs.map { l =>
      (cellW.collect { case ((a, _), c) if a == l => c }.sum / n) *
        (cellW.collect { case ((_, b), c) if b == l => c }.sum / n)
    }.sum
    val kappa = (po - pe) / (1 - pe)
    val (_, _, gpo, gpe, gkappa) = rows.head
    assert(math.abs(gpo - po) < 1e-6 && math.abs(gpe - pe) < 1e-6)
    assert(math.abs(gkappa - kappa) < 1e-5, s"kappa $gkappa vs $kappa")
    assert(gkappa <= 1.0 + 1e-12)
  }

  test("q206 isotonic fit equals the classic PAVA pool stack; monotone; " +
      "pool means preserved") {
    val got = Stats.q206IsotonicPava.fn(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(3), r.getDouble(4)))
    val ev = Tables.events(spark, sf)
      .filter(col("ts").isNotNull && col("value").isNotNull)
      .select(col("event_type"), expr("unix_micros(ts) div 86400000000"),
        expr("CAST(round(100 * value) AS BIGINT)"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    for ((t, rows) <- ev.groupBy(_._1)) {
      val series = rows.groupBy(_._2).toSeq.sortBy(_._1).map { case (d, v) =>
        (d, v.map(_._3).sum, v.length.toLong)
      }
      // classic sequential PAVA: merge backward while means decrease;
      // exact long rationals (s1·c2 vs s2·c1) so no float order effects
      val pools = scala.collection.mutable.ArrayBuffer[(Long, Long, Int)]()
      for ((_, s0, c0) <- series) {
        var (s1, c1, k) = (s0, c0, 1)
        while (pools.nonEmpty && {
          val (s2, c2, _) = pools.last; s2 * c1 >= s1 * c2
        }) { val (s2, c2, k2) = pools.remove(pools.length - 1)
          s1 += s2; c1 += c2; k += k2 }
        pools += ((s1, c1, k))
      }
      val fits = pools.flatMap { case (sp, cp, k) =>
        Seq.fill(k)(sp.toDouble / cp.toDouble) }
      val mine = got.filter(_._1 == t).sortBy(_._2)
      assert(mine.length === series.length, s"$t row count")
      for (((day, f), (_, gd, _, gf)) <- series.map(_._1).zip(fits).zip(mine)) {
        assert(gd === day)
        assert(math.abs(gf - f) < 1e-6, s"$t day $day: fit $gf vs PAVA $f")
      }
      val fs = mine.map(_._4)
      assert(fs.zip(fs.tail).forall { case (a, b) => a <= b + 1e-12 },
        s"$t fit must be nondecreasing")
      // PAVA preserves the total: Σ fit·n = Σ y·n (least-squares projection)
      val tot = mine.zip(series).map { case ((_, _, _, f), (_, _, c)) => f * c }
        .sum
      val raw = series.map { case (_, s, _) => s.toDouble }.sum
      assert(math.abs(tot - raw) / math.abs(raw) < 1e-9,
        s"$t: isotonic projection must preserve the weighted total")
    }
  }
  test("q207 Mann–Whitney replays from a driver-side midrank computation") {
    val got = Stats.q207MannWhitney.fn(spark, sf).collect().map { r =>
      r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) None else Some(r.getDouble(4))))
    }.toMap
    val ev = Tables.events(spark, sf)
      .select(col("event_type"), col("user_id"), col("value")).collect()
      .map(r => (r.getString(0), r.getLong(1),
        math.round(100 * r.getDouble(2))))
    def variant(u: Long): Int = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"mw|$u".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      Integer.parseInt(hex.substring(0, 1), 16) % 2
    }
    assert(got.keySet === ev.map(_._1).toSet)
    for ((t, rows) <- ev.groupBy(_._1)) {
      val obs = rows.map(r => (r._3, variant(r._2)))
      val n = obs.length.toLong
      var r1x2 = 0L; var ties3 = 0L; var cum = 0L
      for ((_, g) <- obs.groupBy(_._1).toSeq.sortBy(_._1)) {
        val cnt = g.length.toLong
        val mid2 = 2 * cum + cnt + 1 // twice the midrank of the run
        r1x2 += g.count(_._2 == 0).toLong * mid2
        ties3 += cnt * cnt * cnt - cnt
        cum += cnt
      }
      val n1 = obs.count(_._2 == 0).toLong
      val n2 = n - n1
      val u2 = r1x2 - n1 * (n1 + 1)
      val (gn1, gn2, gu2, gz2) = got(t)
      assert(gn1 === n1); assert(gn2 === n2); assert(gu2 === u2)
      if (n1 > 0 && n2 > 0 && n > 1) {
        val denom = n1.toDouble * n2.toDouble *
          ((n + 1).toDouble - ties3.toDouble / (n * (n - 1)).toDouble)
        if (denom != 0.0) {
          val num = (u2 - n1 * n2).toDouble
          assert(math.abs(gz2.get - 3.0 * num * num / denom) < 1e-6)
        } else assert(gz2.isEmpty, s"$t: all-tied sample must NULL z²")
      } else assert(gz2.isEmpty, s"$t: degenerate split must NULL z²")
    }
  }

  test("q208 Kendall τ-b replays from a driver-side O(m²) pair count") {
    val got = Stats.q208KendallTau.fn(spark, sf).collect().map { r =>
      (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6),
        if (r.isNullAt(7)) None else Some(r.getDouble(7))))
    }.toMap
    val ev = Tables.events(spark, sf)
      .filter(col("ts").isNotNull && col("event_type").isNotNull)
      .select(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("day"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val d0 = ev.map(_._2).min; val d1 = ev.map(_._2).max
    val types = ev.map(_._1).distinct.sorted
    val series = types.map(t => t -> (d0 to d1).map(day =>
      ev.count(e => e._1 == t && e._2 == day).toLong).toArray).toMap
    for (i <- types.indices; j <- i + 1 until types.length) {
      val (ta, tb) = (types(i), types(j))
      val xs = series(ta); val ys = series(tb)
      var c = 0L; var dd = 0L; var tx = 0L; var ty = 0L; var n0 = 0L
      for (p <- xs.indices; q <- p + 1 until xs.length) {
        n0 += 1
        val dx = xs(p) - xs(q); val dy = ys(p) - ys(q)
        if (dx * dy > 0) c += 1 else if (dx * dy < 0) dd += 1
        if (dx == 0) tx += 1
        if (dy == 0) ty += 1
      }
      val (gn0, gc, gd, gtx, gty, gtau) = got((ta, tb))
      assert(gn0 === n0); assert(gc === c); assert(gd === dd)
      assert(gtx === tx); assert(gty === ty)
      val rad = (n0 - tx).toDouble * (n0 - ty).toDouble
      if (rad > 0)
        assert(math.abs(gtau.get - (c - dd).toDouble / math.sqrt(rad)) < 1e-6)
      else assert(gtau.isEmpty, s"($ta,$tb): tied margin must NULL τ")
    }
  }

  test("q209 Theil–Sen equals a driver-side median-of-slopes; OLS replays " +
      "from integer moments") {
    val got = Stats.q209TheilSen.fn(spark, sf).collect().map { r =>
      r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4)))
    }.toMap
    val ev = Tables.events(spark, sf)
      .filter(col("ts").isNotNull && col("event_type").isNotNull)
      .select(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("day"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    for ((t, rows) <- ev.groupBy(_._1)) {
      val d0 = rows.map(_._2).min; val d1 = rows.map(_._2).max
      val s = (d0 to d1).map(day => rows.count(_._2 == day).toLong).toArray
      val m = s.length
      val slopes = (for (p <- 0 until m; q <- p + 1 until m)
        yield (s(q) - s(p)).toDouble / (q - p).toDouble).sorted
      if (slopes.isEmpty) assert(!got.contains(t),
        s"$t: single-day span must be excluded")
      else {
        val lo = (slopes.length + 1) / 2 - 1; val hi = slopes.length / 2
        val med = (slopes(lo) + slopes(hi)) / 2.0
        val n = m.toLong
        val st = (0 until m).map(_.toLong).sum
        val stt = (0 until m).map(i => i.toLong * i).sum
        val sy = s.sum
        val sty = (0 until m).map(i => i * s(i)).sum
        val ols = (n * sty - st * sy).toDouble / (n * stt - st * st).toDouble
        val (gm, gp, gts, gols) = got(t)
        assert(gm === n); assert(gp === slopes.length.toLong)
        assert(math.abs(gts - med) < 1e-6)
        assert(math.abs(gols - ols) < 1e-6)
      }
    }
  }

  test("q210 W1 equals a driver-side CDF integral over raw samples") {
    val got = Stats.q210Wasserstein1.fn(spark, sf).collect().map { r =>
      (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
    }.toMap
    val docs = Tables.documents(spark, sf)
      .select(col("source"), col("n_chars")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val by = docs.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val sources = by.keys.toSeq.sorted
    assert(got.size === sources.length * (sources.length - 1) / 2)
    for (i <- sources.indices; j <- i + 1 until sources.length) {
      val (a, b) = (sources(i), sources(j))
      val xs = by(a); val ys = by(b)
      val vals = (xs ++ ys).distinct.sorted
      var scaled = 0L
      for (k <- 0 until vals.length - 1) {
        val v = vals(k)
        val c1 = xs.count(_ <= v).toLong; val c2 = ys.count(_ <= v).toLong
        scaled += math.abs(c1 * ys.length - c2 * xs.length) * (vals(k + 1) - v)
      }
      val (n1, n2, ws, w1) = got((a, b))
      assert(n1 === xs.length.toLong); assert(n2 === ys.length.toLong)
      assert(ws === scaled)
      assert(math.abs(w1 - scaled.toDouble / (n1 * n2).toDouble) < 1e-6)
    }
  }

  test("q211 OHLC equals a driver-side per-bucket ordered scan") {
    val got = Analytic.q211OhlcBars.fn(spark, sf).collect().map { r =>
      (r.getString(0), r.getLong(1)) -> ((r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))
    }.toMap
    val ev = Tables.events(spark, sf)
      .select(col("event_type"), expr("unix_micros(ts)").as("us"),
        col("event_id"), col("value")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        math.round(100 * r.getDouble(3))))
    val grouped = ev.groupBy(e => (e._1, Math.floorDiv(e._2, 86400000000L)))
    assert(got.keySet === grouped.keySet)
    for (((t, day), rows) <- grouped) {
      val sorted = rows.sortBy(e => (e._2, e._3))
      val cents = rows.map(_._4)
      assert(got((t, day)) === ((rows.length.toLong, sorted.head._4,
        cents.max, cents.min, sorted.last._4, cents.sum)))
    }
  }
  test("q212 Hill estimator replays from a driver-side sorted tail") {
    val got = Stats.q212HillTail.fn(spark, sf).collect().map { r =>
      r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3),
        if (r.isNullAt(4)) None else Some(r.getDouble(4))))
    }.toMap
    val ev = Tables.events(spark, sf)
      .select(col("event_type"), col("value")).collect()
      .map(r => (r.getString(0), math.round(100 * r.getDouble(1))))
      .filter(_._2 > 0)
    for ((t, rows) <- ev.groupBy(_._1)) {
      val sorted = rows.map(_._2).sorted(Ordering[Long].reverse)
      if (sorted.length < 101) assert(!got.contains(t))
      else {
        val xk1 = sorted(100)
        val h = sorted.take(100)
          .map(x => math.log(x.toDouble / xk1.toDouble)).sum / 100.0
        val (gn, gthr, gh, galpha) = got(t)
        assert(gn === 100L); assert(gthr === xk1)
        assert(math.abs(gh - h) < 1e-4, s"$t hill")
        if (h != 0.0) assert(math.abs(galpha.get - 1.0 / h) < 1e-3)
      }
    }
  }

  test("q213 phrase search replays from a driver-side token scan") {
    val got = TextAnalysis.q213PhraseSearch.fn(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val want = docs.flatMap { case (id, text) =>
      val toks = text.split(" ", -1)
      val hits = (0 until toks.length - 1)
        .filter(i => toks(i) == "order" && toks(i + 1) == "fast")
      if (hits.isEmpty) None
      else Some(id -> ((hits.length.toLong, hits.head.toLong + 1)))
    }.toMap
    assert(got === want)
  }

  test("q214 DAU/WAU replays from driver-side distinct day sets") {
    val got = Analytic.q214Stickiness.fn(spark, sf).collect().map { r =>
      r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3))))
    }.toMap
    val du = Tables.events(spark, sf)
      .filter(col("ts").isNotNull && col("user_id").isNotNull)
      .select(col("user_id"), expr("unix_micros(ts) div 86400000000"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).distinct
    val d0 = du.map(_._2).min; val d1 = du.map(_._2).max
    assert(got.keySet === (d0 to d1).toSet)
    for (day <- d0 to d1) {
      val dau = du.count(_._2 == day).toLong
      val wau = du.filter(e => e._2 >= day - 6 && e._2 <= day)
        .map(_._1).distinct.length.toLong
      val stick = if (wau > 0)
        Some(((2 * dau * 1000000L + wau) / (2 * wau)).toDouble / 1e6)
      else None
      assert(got(day) === ((dau, wau, stick)), s"day $day")
    }
  }

  test("q215 stump equals a driver-side exhaustive split scan") {
    val got = Curation.q215GiniStump.fn(spark, sf).collect().map { r =>
      r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getDouble(6), r.getDouble(7)))
    }.toMap
    val docs = Tables.documents(spark, sf)
      .select(col("source"), col("n_chars"), col("lang")).collect()
      .map(r => (r.getString(0), r.getLong(1),
        if (r.getString(2) == "en") 1L else 0L))
    for ((src, rows) <- docs.groupBy(_._1)) {
      val n = rows.length.toLong
      val pos = rows.map(_._3).sum
      // exhaustive proper-split scan with the same fixed-order formula
      val cand = rows.map(_._2).distinct.sorted.flatMap { v =>
        val left = rows.filter(_._2 <= v)
        val nl = left.length.toLong
        if (nl == n) None
        else {
          val pl = left.map(_._3).sum
          val nr = n - nl; val pr = pos - pl
          val gs = ((nl * nl - pl * pl - (nl - pl) * (nl - pl)).toDouble
              / nl.toDouble
            + (nr * nr - pr * pr - (nr - pr) * (nr - pr)).toDouble
              / nr.toDouble) / n.toDouble
          Some((gs, v, nl, pl))
        }
      }
      if (cand.isEmpty) assert(!got.contains(src))
      else {
        val best = cand.minBy(c => (c._1, c._2))
        val gp = (n * n - pos * pos - (n - pos) * (n - pos)).toDouble /
          n.toDouble / n.toDouble
        val (gn, gpos, gthr, gnl, gpl, ggp, ggs) = got(src)
        assert(gn === n); assert(gpos === pos)
        assert(gthr === best._2); assert(gnl === best._3)
        assert(gpl === best._4)
        assert(math.abs(ggp - gp) < 1e-9)
        assert(math.abs(ggs - best._1) < 1e-6)
      }
    }
  }

  test("q216 BH-FDR: G replays from full-precision counts; the step-up " +
      "is monotone and rejections form a rank prefix") {
    val out = Stats.q216BhFdr.fn(spark, sf).collect().map { r =>
      ((r.getString(0), r.getLong(1)),
        (r.getDouble(2), r.getDouble(3), r.getLong(4), r.getDouble(5),
          r.getString(6) == "reject"))
    }
    val ev = Tables.events(spark, sf)
      .filter(col("ts").isNotNull && col("value").isNotNull)
      .select(col("event_type"),
        expr("(unix_micros(ts) div 3600000000) % 24").as("hod"),
        col("value")).collect()
      .map { r =>
        val cents = math.round(100 * r.getDouble(2))
        val band = if (cents < 2000) 0 else if (cents < 8000) 1 else 2
        (r.getString(0), r.getLong(1), band)
      }
    for (((t, hod), (g, p, _, _, _)) <- out) {
      val typ = ev.filter(_._1 == t)
      val n = typ.length.toDouble
      val nh = typ.count(_._2 == hod).toDouble
      var gacc = 0.0
      for (b <- 0 to 2) {
        val c = typ.count(_._3 == b).toDouble
        val oIn = typ.count(e => e._2 == hod && e._3 == b).toDouble
        val oOut = c - oIn
        if (oIn > 0) gacc += oIn * math.log(oIn * n / (nh * c))
        if (oOut > 0) gacc += oOut * math.log(oOut * n / ((n - nh) * c))
      }
      gacc *= 2
      assert(math.abs(g - gacc) < 1e-3, s"($t,$hod) G")
      assert(math.abs(p - math.exp(-gacc / 2)) < 1e-4, s"($t,$hod) p")
    }
    // BH structure: ranks are 1..m by p; q non-decreasing in rank;
    // rejections are exactly the prefix with q ≤ 0.05
    val byRank = out.map(_._2).sortBy(_._3)
    assert(byRank.map(_._3) === (1L to byRank.length.toLong))
    assert(byRank.sliding(2).forall { w =>
      w.length < 2 ||
        (w(0)._2 <= w(1)._2 + 1e-9 && w(0)._4 <= w(1)._4 + 1e-9)
    })
    assert(byRank.forall(r => r._5 == (r._4 <= 0.05)))
    val rejs = byRank.map(_._5)
    assert(!rejs.dropWhile(identity).contains(true),
      "rejections must form a rank prefix")
  }
  test("q217 Page–Hinkley replays from a driver-side sequential loop") {
    val got = Analytic.q217PageHinkley.fn(spark, sf).collect().map { r =>
      (r.getString(0), r.getTimestamp(1).getTime) ->
        ((r.getLong(2), r.getDouble(3), r.getDouble(4),
          if (r.isNullAt(5)) None else Some(r.getString(5) == "alarm")))
    }.toMap
    val ev = Tables.events(spark, sf)
      .filter(col("ts").isNotNull)
      .select(col("event_type"), expr("unix_micros(ts) div 3600000000"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    for ((t, rows) <- ev.groupBy(_._1)) {
      val m0 = rows.map(_._2).min; val m1 = rows.map(_._2).max
      val xs = (m0 to m1).map(h => rows.count(_._2 == h).toLong).toArray
      val span = xs.length.toLong
      val sSum = xs.sum; val q = xs.map(x => x * x).sum
      val lambda = if (span > 1)
        Some(3.0 * math.sqrt((span * q - sSum * sSum).toDouble /
          (span * (span - 1)).toDouble))
      else None
      var cum = 0L
      var mt = BigDecimal(0)
      var mmin = BigDecimal(Long.MaxValue)
      for (tIdx <- xs.indices) {
        cum += xs(tIdx)
        val term = BigDecimal(xs(tIdx).toDouble -
          cum.toDouble / (tIdx + 1).toDouble)
          .setScale(9, BigDecimal.RoundingMode.HALF_UP)
        mt += term
        if (mt < mmin) mmin = mt
        val key = (t, (m0 + tIdx) * 3600000L)
        val (gn, gmt, gph, galarm) = got(key)
        assert(gn === xs(tIdx))
        assert(gmt === mt.setScale(6,
          BigDecimal.RoundingMode.HALF_UP).toDouble, s"$key m_t")
        assert(gph === (mt - mmin).setScale(6,
          BigDecimal.RoundingMode.HALF_UP).toDouble, s"$key ph_t")
        lambda match {
          case Some(l) =>
            assert(galarm.get === ((mt - mmin).toDouble > l), s"$key alarm")
          case None => assert(galarm.isEmpty, s"$key single-hour alarm")
        }
      }
    }
  }

  test("q218 Zipf fit replays from a full-precision log-log OLS") {
    val r = TextAnalysis.q218ZipfSlope.fn(spark, sf).collect().head
    val toks = Tables.documents(spark, sf)
      .select(col("text")).collect().map(_.getString(0))
      .flatMap(_.split(" ", -1)).filter(_.nonEmpty)
    val tf = toks.groupBy(identity).map { case (w, g) =>
      (w, g.length.toLong) }.toSeq
    val ranked = tf.sortBy { case (w, f) => (-f, w) }.zipWithIndex
      .map { case ((w, f), i) => (i + 1L, f) }
    val v = ranked.length.toDouble
    val xs = ranked.map(p => math.log(p._1.toDouble))
    val ys = ranked.map(p => math.log(p._2.toDouble))
    val sx = xs.sum; val sy = ys.sum
    val sxy = xs.zip(ys).map(p => p._1 * p._2).sum
    val sxx = xs.map(x => x * x).sum
    val b = (v * sxy - sx * sy) / (v * sxx - sx * sx)
    assert(r.getLong(0) === ranked.length.toLong)
    assert(r.getLong(1) === toks.length.toLong)
    assert(math.abs(r.getDouble(2) - (-b)) < 1e-4, "slope")
    assert(math.abs(r.getDouble(3) - (sy - b * sx) / v) < 1e-4, "ln K")
  }

  test("q219 CMH replays from per-stratum hypergeometric moments") {
    val rows = Stats.q219CmhStrata.fn(spark, sf).collect()
    val docs = Tables.documents(spark, sf)
      .select(col("source"), col("n_chars"), col("lang")).collect()
      .map(r => (r.getString(0), if (r.getLong(1) >= 300) 1L else 0L,
        if (r.getString(2) == "en") 1L else 0L))
    var sa = 0L; var se = 0.0; var sv = 0.0
    val per = docs.groupBy(_._1).map { case (src, g) =>
      val n = g.length.toLong
      val r1 = g.map(_._2).sum; val c1 = g.map(_._3).sum
      val a = g.count(x => x._2 == 1 && x._3 == 1).toLong
      val ek = r1.toDouble * c1.toDouble / n.toDouble
      val vk = if (n > 1)
        r1.toDouble * (n - r1).toDouble / n.toDouble *
          c1.toDouble / n.toDouble * (n - c1).toDouble / (n - 1).toDouble
      else 0.0
      sa += a; se += ek; sv += vk
      src -> ((n, r1, c1, a, ek, vk))
    }
    val cmh = (sa - se) * (sa - se) / sv
    var seen: Option[Double] = None
    for (r <- rows) {
      val (n, r1, c1, a, ek, vk) = per(r.getString(0))
      assert(r.getLong(1) === n); assert(r.getLong(2) === r1)
      assert(r.getLong(3) === c1); assert(r.getLong(4) === a)
      assert(math.abs(r.getDouble(5) - ek) < 1e-6)
      assert(math.abs(r.getDouble(6) - vk) < 1e-6)
      assert(math.abs(r.getDouble(7) - cmh) < 1e-4)
      seen match {
        case Some(c0) => assert(r.getDouble(7) === c0,
          "cmh must be identical on every stratum row")
        case None => seen = Some(r.getDouble(7))
      }
    }
  }

  test("q220 rolling r replays from exact window moments; only full " +
      "windows emitted") {
    val got = Analytic.q220RollingCorr.fn(spark, sf).collect().map { r =>
      r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3))))
    }.toMap
    val ev = Tables.events(spark, sf)
      .filter(col("ts").isNotNull
        && col("event_type").isin("view", "click"))
      .select(col("event_type"), expr("unix_micros(ts) div 86400000000"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val d0 = ev.map(_._2).min; val d1 = ev.map(_._2).max
    val days = (d0 to d1).toArray
    val xs = days.map(dd => ev.count(e => e._1 == "view" && e._2 == dd).toLong)
    val ys = days.map(dd => ev.count(e => e._1 == "click" && e._2 == dd).toLong)
    assert(got.keySet === days.drop(6).toSet, "full windows only")
    for (i <- 6 until days.length) {
      val wx = xs.slice(i - 6, i + 1); val wy = ys.slice(i - 6, i + 1)
      val n = 7L
      val sx = wx.sum; val sy = wy.sum
      val sxy = wx.zip(wy).map(p => p._1 * p._2).sum
      val sxx = wx.map(x => x * x).sum; val syy = wy.map(y => y * y).sum
      val den = math.sqrt((n * sxx - sx * sx).toDouble) *
        math.sqrt((n * syy - sy * sy).toDouble)
      val (gx, gy, gr) = got(days(i))
      assert(gx === xs(i)); assert(gy === ys(i))
      if (den == 0.0) assert(gr.isEmpty)
      else assert(math.abs(gr.get -
        (n * sxy - sx * sy).toDouble / den) < 1e-6)
    }
  }
  test("q221 ACF replays from centered driver-side moments; LB and the " +
      "white-noise flag follow") {
    val got = Stats.q221AcfLjungBox.fn(spark, sf).collect().map { r =>
      r.getString(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5), r.getString(6) == "white_noise"))
    }.toMap
    val ev = Tables.events(spark, sf)
      .filter(col("ts").isNotNull)
      .select(col("event_type"), expr("unix_micros(ts) div 3600000000"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    for ((t, rows) <- ev.groupBy(_._1)) {
      val m0 = rows.map(_._2).min; val m1 = rows.map(_._2).max
      val xs = (m0 to m1).map(h => rows.count(_._2 == h).toDouble).toArray
      val n = xs.length
      if (n <= 2) assert(!got.contains(t))
      else {
        val mu = xs.sum / n
        val den = xs.map(x => (x - mu) * (x - mu)).sum
        def acf(k: Int): Double =
          (k until n).map(i => (xs(i) - mu) * (xs(i - k) - mu)).sum / den
        val (gn, a1, a2, q, p, wn) = got(t)
        assert(gn === n.toLong)
        assert(math.abs(a1 - acf(1)) < 1e-6, s"$t acf1")
        assert(math.abs(a2 - acf(2)) < 1e-6, s"$t acf2")
        assert(a1.abs <= 1.0 + 1e-9 && a2.abs <= 1.0 + 1e-9)
        val lb = n.toDouble * (n + 2) *
          (acf(1) * acf(1) / (n - 1) + acf(2) * acf(2) / (n - 2))
        assert(math.abs(q - lb) < 1e-3, s"$t LB")
        assert(math.abs(p - math.exp(-lb / 2)) < 1e-4, s"$t p")
        assert(wn === (p > 0.05))
      }
    }
  }

  test("q222 leaderboard churn replays from driver-side top-20 sets") {
    val got = Analytic.q222LeaderboardChurn.fn(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4)))).toMap
    val ev = Tables.events(spark, sf)
      .filter(col("ts").isNotNull && col("user_id").isNotNull)
      .select(expr("unix_micros(ts) div 86400000000"), col("user_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val tops = ev.groupBy(_._1).map { case (day, g) =>
      day -> g.groupBy(_._2).map { case (u, es) => (u, es.length) }.toSeq
        .sortBy { case (u, c) => (-c, u) }.take(20).map(_._1).toSet
    }
    val days = tops.keys.toSeq.sorted
    assert(got.keySet === days.filter(d => tops.contains(d - 1)).toSet)
    for (d <- days if tops.contains(d - 1)) {
      val prev = tops(d - 1); val cur = tops(d)
      val inter = (prev & cur).size.toLong
      val union = prev.size + cur.size - inter
      val (kp, kc, ni, j) = got(d)
      assert(kp === prev.size.toLong); assert(kc === cur.size.toLong)
      assert(ni === inter)
      assert(j === ((2 * inter * 1000000L + union) / (2 * union))
        .toDouble / 1e6, s"day $d jaccard")
    }
  }

  test("q223 CA trend replays from band counts; direction sign is exact") {
    val r = Stats.q223CochranArmitage.fn(spark, sf).collect().head
    val docs = Tables.documents(spark, sf)
      .select(col("n_chars"), col("lang")).collect()
      .map(x => (x.getLong(0), x.getString(1)))
    val banded = docs.map { case (nc, lang) =>
      (if (nc < 200) 0L else if (nc < 400) 1L else 2L,
        if (lang == "en") 1L else 0L)
    }
    val nn = banded.length.toLong
    val rr = banded.map(_._2).sum
    val sn = banded.map(_._1).sum
    val snn = banded.map(b => b._1 * b._1).sum
    val t = banded.filter(_._2 == 1L).map(_._1).sum
    assert(r.getLong(0) === nn); assert(r.getLong(1) === rr)
    for (bnd <- 0 to 2) {
      assert(r.getLong(2 + 2 * bnd) === banded.count(_._1 == bnd).toLong)
      assert(r.getLong(3 + 2 * bnd) ===
        banded.count(b => b._1 == bnd && b._2 == 1L).toLong)
    }
    val num = nn * t - rr * sn
    assert(r.getLong(8) === num)
    val z2 = nn.toDouble * num.toDouble * num.toDouble /
      (rr.toDouble * (nn - rr).toDouble) /
      (nn * snn - sn * sn).toDouble
    assert(math.abs(r.getDouble(9) - z2) < 1e-6)
    assert(r.getString(10) === (if (z2 > 3.8415) "significant" else "ns"))
  }

  test("q224 DiD replays from MessageDigest cells; the parallel-trends " +
      "differencing removes the arm and period mains") {
    val rows = Stats.q224DiffInDiff.fn(spark, sf).collect()
    val ev = Tables.events(spark, sf)
      .filter(col("ts").isNotNull && col("value").isNotNull
        && col("user_id").isNotNull)
      .select(col("user_id"), col("value"),
        expr("unix_micros(ts) div 86400000000")).collect()
      .map(r => (r.getLong(0), math.round(100 * r.getDouble(1)),
        r.getLong(2)))
    def variant(u: Long): Int = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"dd|$u".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      Integer.parseInt(hex.substring(0, 1), 16) % 2
    }
    val mid = (ev.map(_._3).min + ev.map(_._3).max + 1) / 2
    val cells = ev.groupBy(e =>
      (variant(e._1).toLong, if (e._3 >= mid) 1L else 0L))
      .map { case (k, g) => k -> ((g.length.toLong, g.map(_._2).sum)) }
    def m(tr: Long, po: Long): Double = {
      val (n, su) = cells((tr, po)); su.toDouble / n.toDouble
    }
    val did = (m(1, 1) - m(1, 0) - (m(0, 1) - m(0, 0))) / 100.0
    assert(rows.length === cells.size)
    for (r <- rows) {
      val key = (r.getLong(0), r.getLong(1))
      val (n, su) = cells(key)
      assert(r.getLong(2) === n)
      assert(math.abs(r.getDouble(3) - su.toDouble / n / 100.0) < 1e-6)
      assert(math.abs(r.getDouble(4) - did) < 1e-6)
    }
  }
  test("q225 Chapman replays from driver-side week sets") {
    val got = Stats.q225CaptureRecapture.fn(spark, sf).collect().map { r =>
      r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5), r.getDouble(6)))
    }.toMap
    val ev = Tables.events(spark, sf)
      .filter(col("ts").isNotNull && col("user_id").isNotNull)
      .select(col("user_id"), expr("unix_micros(ts) div 86400000000"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val d0 = ev.map(_._2).min
    val byWeek = ev.map { case (u, dd) => ((dd - d0) / 7, u) }
      .groupBy(_._1).map { case (w, g) => w -> g.map(_._2).toSet }
    val weeks = byWeek.keys.toSeq.sorted
    assert(got.keySet === weeks.filter(w => byWeek.contains(w - 1)).toSet)
    for (w <- weeks if byWeek.contains(w - 1)) {
      val prev = byWeek(w - 1); val cur = byWeek(w)
      val m = (prev & cur).size.toLong
      val num = (prev.size + 1).toLong * (cur.size + 1)
      val chap = ((2 * num * 1000000L + (m + 1)) / (2 * (m + 1)))
        .toDouble / 1e6 - 1.0
      val seen = (prev | cur).size.toLong
      val (n1, n2, gm, gseen, gchap, gcov) = got(w)
      assert(n1 === prev.size.toLong); assert(n2 === cur.size.toLong)
      assert(gm === m); assert(gseen === seen)
      assert(math.abs(gchap - chap) < 1e-6)
      assert(math.abs(gcov - chap / seen) < 1e-6)
    }
  }

  test("q226 runs test replays from a driver-side side sequence") {
    val got = Stats.q226RunsTest.fn(spark, sf).collect().map { r =>
      r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) None else Some(r.getDouble(4))))
    }.toMap
    val ev = Tables.events(spark, sf)
      .filter(col("ts").isNotNull)
      .select(col("event_type"), expr("unix_micros(ts) div 3600000000"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    for ((t, rows) <- ev.groupBy(_._1)) {
      val m0 = rows.map(_._2).min; val m1 = rows.map(_._2).max
      val xs = (m0 to m1).map(h => rows.count(_._2 == h).toLong).toArray
      val span = xs.length.toLong; val sTot = xs.sum
      val sides = xs.filter(x => x * span != sTot)
        .map(x => if (x * span > sTot) 1 else 0)
      if (sides.isEmpty) assert(!got.contains(t))
      else {
        val r = 1L + sides.sliding(2).count(w =>
          w.length == 2 && w(0) != w(1))
        val n1 = sides.count(_ == 1).toLong
        val n2 = sides.length - n1
        val (gn1, gn2, gr, gz) = got(t)
        assert(gn1 === n1); assert(gn2 === n2); assert(gr === r)
        val n = n1 + n2
        if (n1 > 0 && n2 > 0 && n > 1) {
          val mu = 2.0 * n1 * n2 / n + 1.0
          val s2 = 2.0 * n1 * n2 * (2.0 * n1 * n2 - n) / (n.toDouble * n) /
            (n - 1)
          assert(math.abs(gz.get - (r - mu) * (r - mu) / s2) < 1e-4)
        } else assert(gz.isEmpty)
      }
    }
  }

  test("q227 cosine replays from driver-side term-count vectors") {
    val got = TextAnalysis.q227CosineProfiles.fn(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    val docs = Tables.documents(spark, sf)
      .select(col("source"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val vecs = docs.groupBy(_._1).map { case (src, g) =>
      src -> g.flatMap(_._2.split(" ", -1)).filter(_.nonEmpty)
        .groupBy(identity).map { case (w, ws) => w -> ws.length.toLong }
    }
    val sources = vecs.keys.toSeq.sorted
    for (i <- sources.indices; j <- i + 1 until sources.length) {
      val (a, b) = (sources(i), sources(j))
      val va = vecs(a); val vb = vecs(b)
      val shared = va.keySet & vb.keySet
      if (shared.isEmpty) assert(!got.contains((a, b)))
      else {
        val dotv = shared.toSeq.map(w => va(w) * vb(w)).sum
        val na = math.sqrt(va.values.map(c => c * c).sum.toDouble)
        val nb = math.sqrt(vb.values.map(c => c * c).sum.toDouble)
        val (gst, gd, gc) = got((a, b))
        assert(gst === shared.size.toLong); assert(gd === dotv)
        assert(math.abs(gc - dotv / (na * nb)) < 1e-6)
        assert(gc > 0.0 && gc <= 1.0 + 1e-9)
      }
    }
  }

  test("q228 Haar energies replay from a driver-side dyadic cascade") {
    val got = Analytic.q228HaarEnergy.fn(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3),
          if (r.isNullAt(4)) None else Some(r.getDouble(4))))).toMap
    val ev = Tables.events(spark, sf)
      .filter(col("ts").isNotNull)
      .select(col("event_type"), expr("unix_micros(ts) div 3600000000"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    for ((t, rows) <- ev.groupBy(_._1)) {
      val m0 = rows.map(_._2).min; val m1 = rows.map(_._2).max
      var a = (m0 to m1).map(h => rows.count(_._2 == h).toLong).toArray
      var eAll = 0L
      val levels = (1 to 3).flatMap { lv =>
        val pairs = a.grouped(2).filter(_.length == 2).toArray
        if (pairs.isEmpty) { a = Array.empty; None }
        else {
          val ds = pairs.map(p => p(0) - p(1))
          a = pairs.map(p => p(0) + p(1))
          val e = ds.map(x => x * x).sum
          eAll += e
          Some((lv.toLong, pairs.length.toLong, e))
        }
      }
      for ((lv, np, e) <- levels) {
        val (gnp, ge, gshare) = got((t, lv))
        assert(gnp === np); assert(ge === e)
        if (eAll > 0) {
          val want = ((2 * e * 1000000L + eAll) / (2 * eAll)).toDouble / 1e6
          assert(gshare.get === want, s"$t level $lv share")
        } else assert(gshare.isEmpty)
      }
      assert(!got.contains((t, (levels.length + 1).toLong)),
        s"$t must emit only supported levels")
    }
  }
  test("q229 Cliff's delta replays from q207's midrank machinery and " +
      "the magnitude bands are deterministic") {
    val got = Stats.q229CliffsDelta.fn(spark, sf).collect().map { r =>
      r.getString(0) -> ((r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)),
        if (r.isNullAt(4)) None else Some(r.getString(4))))
    }.toMap
    // cross-operator invariant: δ = (2U − n₁n₂)/(n₁n₂) from q207's u2
    val mw = Stats.q207MannWhitney.fn(spark, sf).collect().map { r =>
      r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))
    }.toMap
    assert(got.keySet === mw.keySet)
    for ((t, (n1, n2, u2)) <- mw) {
      val (gn1, gn2, gd, gm) = got(t)
      assert(gn1 === n1); assert(gn2 === n2)
      if (n1 > 0 && n2 > 0) {
        val delta = (u2 - n1 * n2).toDouble / (n1 * n2).toDouble
        assert(math.abs(gd.get - delta) < 1e-6)
        val want = if (delta.abs < 0.147) "negligible"
          else if (delta.abs < 0.33) "small"
          else if (delta.abs < 0.474) "medium" else "large"
        assert(gm.get === want)
        assert(gd.get.abs <= 1.0 + 1e-9)
      } else { assert(gd.isEmpty); assert(gm.isEmpty) }
    }
  }

  test("q230 Good–Turing replays from token histograms; the closed " +
      "template vocabulary pins unseen mass to 0 and NULL Chao1") {
    val got = Stats.q230GoodTuring.fn(spark, sf).collect().map { r =>
      r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5),
        if (r.isNullAt(6)) None else Some(r.getDouble(6))))
    }.toMap
    val docs = Tables.documents(spark, sf)
      .select(col("source"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    for ((src, g) <- docs.groupBy(_._1)) {
      val counts = g.flatMap(_._2.split(" ", -1)).filter(_.nonEmpty)
        .groupBy(identity).map(_._2.length.toLong)
      val n = counts.sum; val v = counts.size.toLong
      val n1 = counts.count(_ == 1L).toLong
      val n2 = counts.count(_ == 2L).toLong
      val (gn, gv, gn1, gn2, gu, gc) = got(src)
      assert(gn === n); assert(gv === v); assert(gn1 === n1)
      assert(gn2 === n2)
      assert(gu === ((2 * n1 * 1000000L + n) / (2 * n)).toDouble / 1e6)
      if (n2 == 0) assert(gc.isEmpty)
      else assert(math.abs(gc.get - (v + n1.toDouble * n1 / (2 * n2)))
        < 1e-6)
      // the fixture's template corpus is (near-)vocabulary-closed per
      // source: hapaxes are a vanishing fraction of the token mass
      assert(gn1 * 100 <= gn, s"$src: template corpus must have ~no " +
        s"hapax mass (n1=$gn1 of n=$gn)")
      assert(gu < 0.01)
    }
  }

  test("q231 Mann–Kendall replays from a driver-side sign loop and " +
      "agrees in direction with its S") {
    val got = Stats.q231MannKendall.fn(spark, sf).collect().map { r =>
      r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) None else Some(r.getDouble(4)),
        r.getString(5)))
    }.toMap
    val ev = Tables.events(spark, sf)
      .filter(col("ts").isNotNull)
      .select(col("event_type"), expr("unix_micros(ts) div 86400000000"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    for ((t, rows) <- ev.groupBy(_._1)) {
      val d0 = rows.map(_._2).min; val d1 = rows.map(_._2).max
      val cs = (d0 to d1).map(dd => rows.count(_._2 == dd).toLong).toArray
      val n = cs.length.toLong
      var sStat = 0L; var np = 0L
      for (i <- cs.indices; j <- i + 1 until cs.length) {
        np += 1
        sStat += java.lang.Long.signum(cs(j) - cs(i))
      }
      val tmass = cs.groupBy(identity).values
        .map(g => { val tc = g.length.toLong; tc * (tc - 1) * (2 * tc + 5) })
        .sum
      val den18 = n * (n - 1) * (2 * n + 5) - tmass
      val (gn, gnp, gs, gz, gdir) = got(t)
      assert(gn === n); assert(gnp === np); assert(gs === sStat)
      assert(gdir === (if (sStat > 0) "increasing"
        else if (sStat < 0) "decreasing" else "none"))
      if (sStat == 0) assert(gz.get === 0.0)
      else if (den18 > 0) {
        val z2 = (math.abs(sStat) - 1).toDouble *
          (math.abs(sStat) - 1) * 18.0 / den18
        assert(math.abs(gz.get - z2) < 1e-6)
      } else assert(gz.isEmpty)
    }
  }

  test("q232 Theil decomposition: parts replay from definitions and the " +
      "within+between identity reproduces the direct index") {
    val rows = Stats.q232TheilDecomposition.fn(spark, sf).collect()
    val docs = Tables.documents(spark, sf)
      .filter(col("n_chars") > 0)
      .select(col("source"), col("n_chars")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val n = docs.length.toLong
    val xx = docs.map(_._2).sum
    val byG = docs.groupBy(_._1).map { case (src, g) =>
      src -> ((g.length.toLong, g.map(_._2).sum, g.map(_._2)))
    }
    var tw = 0.0; var tb = 0.0
    for ((_, (ng, xg, xs)) <- byG) {
      val tg = xs.map(x => x.toDouble / xg *
        math.log(x.toDouble * ng / xg)).sum
      tw += xg.toDouble / xx * tg
      tb += xg.toDouble / xx *
        math.log(xg.toDouble * n / (xx.toDouble * ng))
    }
    val tDirect = docs.map { case (_, x) =>
      x.toDouble / xx * math.log(x.toDouble * n / xx) }.sum
    for (r <- rows) {
      val (ng, xg, xs) = byG(r.getString(0))
      assert(r.getLong(1) === ng); assert(r.getLong(2) === xg)
      val tg = xs.map(x => x.toDouble / xg *
        math.log(x.toDouble * ng / xg)).sum
      assert(math.abs(r.getDouble(4) - tg) < 1e-4)
      assert(math.abs(r.getDouble(7) - tw) < 1e-4, "within total")
      assert(math.abs(r.getDouble(8) - tb) < 1e-4, "between total")
      assert(math.abs(r.getDouble(9) - tDirect) < 1e-4,
        "decomposition identity T = T_w + T_b")
      assert(r.getDouble(4) >= -1e-9, "within-group Theil is nonnegative")
    }
  }
  test("q233 Bayes average replays from exact rationals and SHRINKS " +
      "small samples toward the prior") {
    val rows = Stats.q233BayesAverage.fn(spark, sf).collect()
    val ev = Tables.events(spark, sf).filter(col("user_id").isNotNull)
      .select(col("user_id"), col("event_type")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val per = ev.groupBy(_._1).map { case (u, g) =>
      u -> ((g.length.toLong, g.count(_._2 == "purchase").toLong))
    }
    val nn = per.values.map(_._1).sum; val xx = per.values.map(_._2).sum
    val shrunk = per.map { case (u, (n, x)) =>
      u -> ((x * nn + 20 * xx).toDouble / (nn * (n + 20)).toDouble, n, x)
    }
    val want = shrunk.toSeq.sortBy { case (u, (sv, _, _)) => (-sv, u) }
      .take(20)
    assert(rows.length === math.min(20, per.size))
    for ((r, (u, (sv, n, x))) <- rows.zip(want)) {
      assert(r.getLong(0) === u); assert(r.getLong(1) === n)
      assert(r.getLong(2) === x)
      assert(math.abs(r.getDouble(4) - sv) < 1e-6)
    }
    // shrinkage property: every user's shrunk rate sits strictly
    // between the raw rate and the global prior (or equals both)
    val prior = xx.toDouble / nn
    for ((_, (sv, n, x)) <- shrunk) {
      val raw = x.toDouble / n
      assert(sv >= math.min(raw, prior) - 1e-12 &&
        sv <= math.max(raw, prior) + 1e-12)
    }
  }

  test("q234 exponential-gap KS replays from a driver-side sorted scan") {
    val got = Stats.q234ExpGapKs.fn(spark, sf).collect().map { r =>
      r.getString(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getString(4) == "poisson_like"))
    }.toMap
    val ev = Tables.events(spark, sf)
      .filter(col("ts").isNotNull)
      .select(col("event_type"), expr("unix_micros(ts)"), col("event_id"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    for ((t, rows) <- ev.groupBy(_._1)) {
      val us = rows.sortBy(e => (e._2, e._3)).map(_._2)
      val gaps: Array[Long] = us.sliding(2).toArray
        .filter(_.length == 2).map(w => w(1) - w(0))
      if (gaps.isEmpty) assert(!got.contains(t))
      else {
        val n = gaps.length
        val sg = gaps.sum
        val lam = n.toDouble / sg
        val sorted = gaps.sorted
        var dMax = 0.0
        for (i <- sorted.indices) {
          val f = 1.0 - math.exp(-lam * sorted(i))
          dMax = math.max(dMax, math.max((i + 1).toDouble / n - f,
            f - i.toDouble / n))
        }
        val (gn, gmean, gd, gp) = got(t)
        assert(gn === n.toLong)
        assert(math.abs(gmean - sg.toDouble / n / 1000.0) < 1e-3)
        assert(math.abs(gd - dMax) < 1e-5, s"$t D")
        assert(gp === (gd < 1.36 / math.sqrt(n.toDouble)))
      }
    }
  }

  test("q235 overdispersion: D = (nQ - S²)/S replays exactly from " +
      "integer moments") {
    val got = Stats.q235Overdispersion.fn(spark, sf).collect().map { r =>
      r.getString(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5), r.getString(6) == "overdispersed"))
    }.toMap
    val ev = Tables.events(spark, sf)
      .filter(col("ts").isNotNull)
      .select(col("event_type"), expr("unix_micros(ts) div 86400000000"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    for ((t, rows) <- ev.groupBy(_._1)) {
      val d0 = rows.map(_._2).min; val d1 = rows.map(_._2).max
      val cs = (d0 to d1).map(dd => rows.count(_._2 == dd).toLong)
      val n = cs.length.toLong
      if (n <= 1) assert(!got.contains(t))
      else {
        val sTot = cs.sum; val q = cs.map(c => c * c).sum
        val dStat = (n * q - sTot * sTot).toDouble / sTot
        val (gn, gm, gv, gf, gz, go) = got(t)
        assert(gn === n)
        assert(math.abs(gm - sTot.toDouble / n) < 1e-6)
        assert(math.abs(gv - (n * q - sTot * sTot).toDouble / n / (n - 1))
          < 1e-4)
        assert(math.abs(gf - dStat / (n - 1)) < 1e-4)
        val z2 = (dStat - (n - 1)) * (dStat - (n - 1)) / (2.0 * (n - 1))
        assert(math.abs(gz - z2) < 1e-3)
        assert(go === (z2 > 3.8415))
      }
    }
  }

  test("q236 Wilson CI replays from the closed form and brackets the " +
      "point rate inside [0, 1]") {
    val rows = Stats.q236WilsonCi.fn(spark, sf).collect()
    val ev = Tables.events(spark, sf).filter(col("user_id").isNotNull)
      .select(col("user_id"), col("event_type")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val nU = ev.map(_._1).distinct.length.toLong
    val conv = ev.groupBy(_._2).map { case (t, g) =>
      t -> g.groupBy(_._1).count(_._2.length >= 15).toLong
    }
    for (r <- rows) {
      val t = r.getString(0)
      val x = conv(t); val n = nU
      assert(r.getLong(1) === x); assert(r.getLong(2) === n)
      val p = x.toDouble / n; val z = 1.96
      def b(sign: Double) = (p + z * z / (2 * n) +
        sign * z * math.sqrt(p * (1 - p) / n + z * z / (4.0 * n * n))) /
        (1 + z * z / n)
      assert(math.abs(r.getDouble(4) - b(-1)) < 1e-6)
      assert(math.abs(r.getDouble(5) - b(1)) < 1e-6)
      assert(r.getDouble(4) >= -1e-9 && r.getDouble(5) <= 1.0 + 1e-9)
      assert(r.getDouble(4) <= p + 1e-9 && p <= r.getDouble(5) + 1e-9)
    }
  }
  test("q237 RBO replays from driver-side prefix overlaps and dominates " +
      "depth-unweighted agreement at the top") {
    val got = Analytic.q237RankBiasedOverlap.fn(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val ev = Tables.events(spark, sf)
      .filter(col("ts").isNotNull && col("user_id").isNotNull)
      .select(expr("unix_micros(ts) div 86400000000"), col("user_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val ranked = ev.groupBy(_._1).map { case (day, g) =>
      day -> g.groupBy(_._2).map { case (u, es) => (u, es.length) }.toSeq
        .sortBy { case (u, c) => (-c, u) }.take(20).map(_._1)
    }
    val days = ranked.keys.toSeq.sorted
    for (d <- days if ranked.contains(d - 1)) {
      val prev = ranked(d - 1); val cur = ranked(d)
      var rbo = 0.0; var matched = 0L
      for (depth <- 1 to 20) {
        val xd = (prev.take(depth).toSet & cur.take(depth).toSet).size
        rbo += math.pow(0.9, depth - 1) * xd / depth
      }
      matched = (prev.toSet & cur.toSet).size.toLong
      val (gm, gr) = got(d)
      assert(gm === matched, s"day $d matched")
      assert(math.abs(gr - 0.1 * rbo) < 1e-4, s"day $d rbo")
      assert(gr >= -1e-9 && gr <= 1.0 + 1e-9)
    }
  }

  test("q238 growth accounting replays from week sets and the ledger " +
      "identity active = new + retained + resurrected holds") {
    val rows = Analytic.q238GrowthAccounting.fn(spark, sf).collect()
    val ev = Tables.events(spark, sf)
      .filter(col("ts").isNotNull && col("user_id").isNotNull)
      .select(col("user_id"), expr("unix_micros(ts) div 86400000000"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val d0 = ev.map(_._2).min
    val byWeek = ev.map { case (u, dd) => ((dd - d0) / 7, u) }
      .groupBy(_._1).map { case (w, g) => w -> g.map(_._2).toSet }
    val firstWk = byWeek.toSeq.flatMap { case (w, us) => us.map(_ -> w) }
      .groupBy(_._1).map { case (u, ws) => u -> ws.map(_._2).min }
    for (r <- rows) {
      val w = r.getLong(0)
      val cur = byWeek(w); val prev = byWeek.getOrElse(w - 1, Set.empty[Long])
      val nw = cur.count(firstWk(_) == w).toLong
      val ret = (cur & prev).size.toLong
      val res = cur.count(u => firstWk(u) < w && !prev.contains(u)).toLong
      val chu = (prev -- cur).size.toLong
      assert(r.getLong(1) === cur.size.toLong)
      assert(r.getLong(2) === nw); assert(r.getLong(3) === ret)
      assert(r.getLong(4) === res); assert(r.getLong(5) === chu)
      assert(r.getLong(1) === nw + ret + res, "ledger identity")
      if (chu > 0) {
        val want = ((2 * (nw + res) * 1000000L + chu) / (2 * chu))
          .toDouble / 1e6
        assert(r.getDouble(6) === want)
      } else assert(r.isNullAt(6))
    }
  }
  test("q239 entropy rate replays from transition counts; conditioning " +
      "never increases entropy") {
    val rows = Stats.q239EntropyRate.fn(spark, sf).collect()
    val ev = Tables.events(spark, sf)
      .filter(col("user_id").isNotNull && col("event_type").isNotNull)
      .select(col("user_id"), col("event_type"), col("ts"),
        col("event_id")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getTimestamp(2),
        r.getLong(3)))
    val trans = ev.groupBy(_._1).toSeq.flatMap { case (_, g) =>
      val ordered = g.sortBy(e => (e._3.getTime, e._4)).map(_._2)
      ordered.zip(ordered.drop(1))
    }
    val n = trans.length.toDouble
    val byPrev = trans.groupBy(_._1)
    val hCond = byPrev.toSeq.map { case (_, g) =>
      val rn = g.length.toDouble
      val hRow = g.groupBy(_._2).values
        .map(c => c.length / rn * math.log(rn / c.length)).sum
      rn / n * hRow
    }.sum
    val hMarg = trans.groupBy(_._2).values
      .map(c => c.length / n * math.log(n / c.length)).sum
    for (r <- rows) {
      val g = byPrev(r.getString(0))
      assert(r.getLong(1) === g.length.toLong)
      val rn = g.length.toDouble
      val hRow = g.groupBy(_._2).values
        .map(c => c.length / rn * math.log(rn / c.length)).sum
      assert(math.abs(r.getDouble(2) - hRow) < 1e-4)
      assert(math.abs(r.getDouble(3) - hCond) < 1e-4)
      assert(math.abs(r.getDouble(4) - hMarg) < 1e-4)
      assert(math.abs(r.getDouble(5) - (hMarg - hCond)) < 1e-4)
      assert(r.getDouble(5) >= -1e-6,
        "conditioning cannot increase entropy")
    }
  }

  test("q240 Newey–West replays from centered autocovariances; " +
      "positive lag-1 correlation inflates the iid error bar") {
    val got = Stats.q240NeweyWest.fn(spark, sf).collect().map { r =>
      r.getString(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5)))
    }.toMap
    val ev = Tables.events(spark, sf)
      .filter(col("ts").isNotNull)
      .select(col("event_type"), expr("unix_micros(ts) div 86400000000"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    for ((t, rows) <- ev.groupBy(_._1)) {
      val d0 = rows.map(_._2).min; val d1 = rows.map(_._2).max
      val xs = (d0 to d1).map(dd => rows.count(_._2 == dd).toDouble)
        .toArray
      val n = xs.length
      if (n <= 2) assert(!got.contains(t))
      else {
        val mu = xs.sum / n
        def gam(k: Int) =
          (k until n).map(i => (xs(i) - mu) * (xs(i - k) - mu)).sum / n
        val v = gam(0) + 2 * (2.0 / 3) * gam(1) + 2 * (1.0 / 3) * gam(2)
        val (gn, gm, seI, seN, infl) = got(t)
        assert(gn === n.toLong)
        assert(math.abs(gm - mu) < 1e-6)
        assert(math.abs(seI - math.sqrt(gam(0) / n)) < 1e-4)
        assert(math.abs(seN - math.sqrt(v / n)) < 1e-4)
        assert(math.abs(infl - seN / seI) < 1e-3)
      }
    }
  }

  test("q241 disparate impact replays from exact cross-multiplied " +
      "rates; the reference group scores ratio 1") {
    val rows = Stats.q241DisparateImpact.fn(spark, sf).collect()
    val docs = Tables.documents(spark, sf)
      .filter(col("n_chars").isNotNull && col("lang").isNotNull)
      .select(col("lang"), col("n_chars")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val per = docs.groupBy(_._1).map { case (l, g) =>
      l -> ((g.length.toLong, g.count(_._2 >= 300).toLong))
    }
    val refLang = per.toSeq
      .sortBy { case (l, (n, k)) => (-k.toDouble / n, l) }.head._1
    val (rn, rk) = per(refLang)
    for (r <- rows) {
      val (n, k) = per(r.getString(0))
      assert(r.getLong(1) === n); assert(r.getLong(2) === k)
      assert(r.getString(4) === refLang)
      val num = k * rn; val den = rk * n
      assert(r.getDouble(5) ===
        ((2 * num * 1000000L + den) / (2 * den)).toDouble / 1e6)
      assert(r.getString(6) ===
        (if (num.toDouble / den < 0.8) "violation" else "ok"))
      if (r.getString(0) == refLang) assert(r.getDouble(5) === 1.0)
    }
  }
  test("q242 means replay from driver-side sums and obey AM ≥ GM ≥ HM") {
    val got = Stats.q242MeansProfile.fn(spark, sf).collect().map { r =>
      r.getString(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5)))
    }.toMap
    val ev = Tables.events(spark, sf)
      .select(col("event_type"), col("value")).collect()
      .map(r => (r.getString(0), math.round(100 * r.getDouble(1))))
      .filter(_._2 > 0)
    for ((t, rows) <- ev.groupBy(_._1)) {
      val xs = rows.map(_._2)
      val n = xs.length
      val am = xs.sum.toDouble / n
      val gm = math.exp(xs.map(x => math.log(x.toDouble)).sum / n)
      val hm = n / xs.map(x => 1.0 / x).sum
      val (gn, gam2, ggm, ghm, gr) = got(t)
      assert(gn === n.toLong)
      assert(math.abs(gam2 - am) < 1e-4)
      assert(math.abs(ggm - gm) < 1e-2)
      assert(math.abs(ghm - hm) < 1e-2)
      assert(gam2 >= ggm - 1e-6 && ggm >= ghm - 1e-6, s"$t AM≥GM≥HM")
      assert(math.abs(gr - gam2 / ggm) < 1e-3)
    }
  }

  /** Dense zero-filled hourly count series per type, replayed driver-side
    * — the shared scaffold for the q243/q244 nets. */
  private def denseHourly(): Map[String, Array[Long]] = {
    val raw = Tables.events(spark, sf)
      .filter(col("ts").isNotNull && col("event_type").isNotNull)
      .select(col("event_type"), expr("unix_micros(ts) div 3600000000"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    raw.groupBy(_._1).map { case (t, v) =>
      val hs = v.map(_._2)
      val (m0, m1) = (hs.min, hs.max)
      val cnt = hs.groupBy(identity).map { case (h, g) => h -> g.length.toLong }
      t -> (m0 to m1).map(h => cnt.getOrElse(h, 0L)).toArray
    }
  }

  test("q243 Jarque–Bera replays from direct central moments — a " +
      "different algorithm than the engine's power-sum identities") {
    val got = Stats.q243JarqueBera.fn(spark, sf).collect().map { r =>
      r.getString(0) -> ((r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)),
        if (r.isNullAt(4)) None else Some(r.getDouble(4)),
        if (r.isNullAt(5)) None else Some(r.getDouble(5))))
    }.toMap
    val series = denseHourly()
    assert(got.keySet === series.keySet && got.nonEmpty)
    for ((t, xs) <- series) {
      val (gn, gskew, gkurt, gjb, gp) = got(t)
      assert(gn === xs.length.toLong)
      val n = xs.length
      val mu = xs.sum.toDouble / n
      // DIRECT centered sums — not the engine's raw-moment expansion
      val m2 = xs.map(x => math.pow(x - mu, 2)).sum / n
      val m3 = xs.map(x => math.pow(x - mu, 3)).sum / n
      val m4 = xs.map(x => math.pow(x - mu, 4)).sum / n
      if (n > 1 && m2 > 0) {
        val skew = m3 / math.sqrt(m2 * m2 * m2)
        val kurt = m4 / (m2 * m2) - 3.0
        val jb = n * (skew * skew / 6.0 + kurt * kurt / 24.0)
        assert(math.abs(gskew.get - skew) < 1e-5, s"$t skew")
        assert(math.abs(gkurt.get - kurt) < 1e-5, s"$t kurt")
        assert(math.abs(gjb.get - jb) < 1e-4 * (1 + jb.abs), s"$t jb")
        assert(math.abs(gp.get - math.exp(-jb / 2)) < 1e-4, s"$t p")
      } else assert(gskew.isEmpty && gjb.isEmpty)
    }
  }

  test("q245 Kruskal–Wallis replays from explicit sorted midranks and " +
      "a MessageDigest arm split — both re-derived, neither shared") {
    val got = Stats.q245KruskalWallis.fn(spark, sf).collect().map { r =>
      r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) None else Some(r.getDouble(4)),
        if (r.isNullAt(6)) None else Some(r.getString(6) == "significant")))
    }.toMap
    val md = java.security.MessageDigest.getInstance("MD5")
    def arm(uid: Long): Int = {
      val h = md.digest(s"kw|$uid".getBytes("UTF-8"))
      ((h(0) >> 4) & 0xf) % 3
    }
    val rows = Tables.events(spark, sf)
      .filter(col("value").isNotNull && col("user_id").isNotNull
        && col("event_type").isNotNull)
      .select(col("event_type"), expr("CAST(round(100 * value) AS BIGINT)"),
        col("user_id"))
      .collect().map(r => (r.getString(0), r.getLong(1), arm(r.getLong(2))))
    assert(got.keySet === rows.map(_._1).toSet)
    for ((t, g) <- rows.groupBy(_._1)) {
      val vs = g.map(x => (x._2, x._3)).sortBy(_._1)
      val n = vs.length
      // explicit average ranks over the sorted multiset
      val ranks = new Array[Double](n)
      var i = 0
      while (i < n) {
        var j = i
        while (j < n && vs(j)._1 == vs(i)._1) j += 1
        val avg = (i + 1 + j).toDouble / 2.0 // mean of ranks i+1..j
        for (k <- i until j) ranks(k) = avg
        i = j
      }
      val byArm = (0 until 3).map { a =>
        val idx = vs.indices.filter(vs(_)._2 == a)
        (idx.length.toLong, idx.map(ranks(_)).sum)
      }
      val (gn0, gn1, gn2, gh, _) = got(t)
      assert((gn0, gn1, gn2) ===
        ((byArm(0)._1, byArm(1)._1, byArm(2)._1)), s"$t arm sizes")
      val ties3 = vs.map(_._1).groupBy(identity).values
        .map(_.length.toLong).map(c => c * c * c - c).sum
      val nL = n.toLong
      if (byArm.forall(_._1 > 0) && nL * nL * nL - nL > ties3) {
        val h0 = 12.0 / (n.toDouble * (n + 1)) *
          byArm.map { case (na, ra) => ra * ra / na }.sum - 3.0 * (n + 1)
        val h = h0 / (1.0 - ties3.toDouble / (nL * nL * nL - nL))
        assert(math.abs(gh.get - h) < 1e-4 * (1 + h.abs), s"$t H $gh vs $h")
      } else assert(gh.isEmpty, s"$t degenerate must be NULL")
    }
  }

  test("q246 burstiness replays from an explicit per-type timestamp sort; " +
      "B and CV agree with direct gap moments") {
    val got = Stats.q246Burstiness.fn(spark, sf).collect().map { r =>
      r.getString(0) -> ((r.getLong(1), r.getDouble(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)),
        if (r.isNullAt(4)) None else Some(r.getDouble(4))))
    }.toMap
    val rows = Tables.events(spark, sf)
      .filter(col("ts").isNotNull && col("event_type").isNotNull)
      .select(col("event_type"), expr("unix_micros(ts)"), col("event_id"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(got.keySet === rows.map(_._1).toSet)
    for ((t, g) <- rows.groupBy(_._1)) {
      val us = g.map(x => (x._2, x._3)).sortBy(identity).map(_._1)
      val gaps = us.sliding(2).filter(_.length == 2)
        .map(p => (p(1) - p(0)) / 1000L).toArray
      val (gn, gmean, gcv, gb) = got(t)
      assert(gn === gaps.length.toLong, s"$t gap count")
      if (gaps.nonEmpty) {
        val mu = gaps.sum.toDouble / gaps.length
        assert(math.abs(gmean - mu) < 1e-5 * (1 + mu), s"$t mean gap")
        if (gaps.length >= 2 && gaps.sum > 0) {
          val sd = math.sqrt(
            gaps.map(x => (x - mu) * (x - mu)).sum / gaps.length)
          assert(math.abs(gcv.get - sd / mu) < 1e-4 * (1 + sd / mu))
          assert(math.abs(gb.get - (sd - mu) / (sd + mu)) < 1e-5)
          assert(gb.get >= -1.0 - 1e-9 && gb.get < 1.0)
        }
      }
    }
  }

  test("q247 mean excess replays from exact rational threshold " +
      "comparisons; exponentiality index is excess over mean") {
    val got = Stats.q247MeanExcess.fn(spark, sf).collect().map { r =>
      r.getString(0) -> ((r.getLong(1), r.getDouble(2), r.getLong(3),
        if (r.isNullAt(5)) None else Some(r.getDouble(5)),
        if (r.isNullAt(6)) None else Some(r.getDouble(6))))
    }.toMap
    val rows = Tables.events(spark, sf)
      .filter(col("value").isNotNull && col("event_type").isNotNull)
      .select(col("event_type"), expr("CAST(round(100 * value) AS BIGINT)"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .filter(_._2 > 0)
    for ((t, g) <- rows.groupBy(_._1)) {
      val vs = g.map(_._2)
      val n = vs.length.toLong; val s = vs.sum
      // exact rational exceedance — BigInt route, not the engine's int64
      val exceed = vs.filter(v => BigInt(v) * n > 2 * BigInt(s))
      val (gn, gthr, gk, gme, gidx) = got(t)
      assert(gn === n && gk === exceed.length.toLong, s"$t counts")
      assert(math.abs(gthr - 2.0 * s / n) < 1e-5 * (1 + 2.0 * s / n))
      if (exceed.nonEmpty) {
        val me = exceed.map(v => v - 2.0 * s / n).sum / exceed.length
        assert(math.abs(gme.get - me) < 1e-4 * (1 + me), s"$t excess")
        val idx = me / (s.toDouble / n)
        assert(math.abs(gidx.get - idx) < 1e-4 * (1 + idx), s"$t index")
      } else assert(gme.isEmpty && gidx.isEmpty)
    }
  }

  test("q248 hour-of-day ANOVA replays from the direct between-group " +
      "formula Σ n_h(μ_h − μ)² — not the engine's S_h²/n_h identity") {
    val got = Stats.q248HodAnova.fn(spark, sf).collect().map { r =>
      r.getString(0) -> ((r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)),
        if (r.isNullAt(4)) None else Some(r.getDouble(4))))
    }.toMap
    val series = denseHourly()
    // denseHourly loses m0; rebuild hods from the raw hour keys instead
    val raw = Tables.events(spark, sf)
      .filter(col("ts").isNotNull && col("event_type").isNotNull)
      .select(col("event_type"), expr("unix_micros(ts) div 3600000000"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    for ((t, v) <- raw.groupBy(_._1)) {
      val hs = v.map(_._2)
      val (m0, m1) = (hs.min, hs.max)
      val cnt = hs.groupBy(identity).map { case (h, g) => h -> g.length.toLong }
      val cells = (m0 to m1).map(h => (h % 24) -> cnt.getOrElse(h, 0L))
      val n = cells.length
      val mu = cells.map(_._2).sum.toDouble / n
      // .toSeq BEFORE .map — the §5.7 Map.map pair-collapse (hods with
      // equal cell counts would silently dedup; hit live writing this)
      val byH = cells.groupBy(_._1).toSeq.map { case (_, c) =>
        (c.length, c.map(_._2).sum.toDouble / c.length)
      }
      val ssb = byH.map { case (nh, mh) => nh * (mh - mu) * (mh - mu) }.sum
      val sst = cells.map { case (_, x) => (x - mu) * (x - mu) }.sum
      val (gspan, gk, geta, gf) = got(t)
      assert(gspan === n.toLong && gk === byH.size.toLong, s"$t shape")
      if (sst > 0) {
        assert(math.abs(geta.get - ssb / sst) < 1e-5, s"$t eta2")
        val k = byH.size
        if (k > 1 && n > k && sst - ssb > 0) {
          val f = (ssb / (k - 1)) / ((sst - ssb) / (n - k))
          assert(math.abs(gf.get - f) < 1e-4 * (1 + f), s"$t F")
        }
      } else assert(geta.isEmpty && gf.isEmpty)
    }
    assert(series.keySet === got.keySet)
  }

  test("q249 James–Stein replays from a direct pooled-variance formula; " +
      "shrinkage moves every mean strictly toward the grand mean") {
    val got = Stats.q249JamesStein.fn(spark, sf).collect().map { r =>
      r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3),
        if (r.isNullAt(4)) None else Some(r.getDouble(4)),
        if (r.isNullAt(5)) None else Some(r.getDouble(5))))
    }.toMap
    val raw = Tables.events(spark, sf)
      .filter(col("ts").isNotNull && col("event_type").isNotNull)
      .select(col("event_type"), expr("unix_micros(ts) div 86400000000"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val (g0, g1) = (raw.map(_._2).min, raw.map(_._2).max)
    val dd = (g1 - g0 + 1).toInt
    val series = raw.groupBy(_._1).map { case (t, v) =>
      val cnt = v.groupBy(_._2).map { case (h, g) => h -> g.length.toLong }
      t -> (g0 to g1).map(h => cnt.getOrElse(h, 0L)).toArray
    }
    val k = series.size
    val means = series.map { case (t, xs) => t -> xs.sum.toDouble / dd }
    val grand = means.values.sum / k
    val b = means.values.map(m => (m - grand) * (m - grand)).sum
    val sw2 = series.values.map { xs =>
      val mu = xs.sum.toDouble / dd
      xs.map(x => (x - mu) * (x - mu)).sum / (dd - 1)
    }.sum / k
    val cf = math.max(0.0, 1.0 - (k - 3) * (sw2 / dd) / b)
    for ((t, xs) <- series) {
      val (gn, gd, graw, gcf, gshr) = got(t)
      assert(gn === xs.sum && gd === dd.toLong, s"$t grid shape")
      assert(math.abs(graw - means(t)) < 1e-5 * (1 + means(t)))
      if (k > 3 && dd > 1 && b > 0) {
        assert(math.abs(gcf.get - cf) < 1e-4, s"$t factor $gcf vs $cf")
        val shr = grand + cf * (means(t) - grand)
        assert(math.abs(gshr.get - shr) < 1e-4 * (1 + shr.abs), s"$t shrunk")
        // between (or at) raw and grand: shrinkage never overshoots for
        // c ∈ [0, 1] — slack 1e-6 because the published value rounds at 6
        assert((gshr.get - grand) * (means(t) - grand) >= -1e-6 * (1 + grand)
          && (gshr.get - grand).abs <= (means(t) - grand).abs + 1e-6)
      } else assert(gcf.isEmpty && gshr.isEmpty)
    }
  }

  test("q250 OOV rate replays from a Scala token sort; head membership " +
      "follows the (count DESC, term) total order exactly") {
    val got = TextAnalysis.q250OovRate.fn(spark, sf).collect().map { r =>
      r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    }.toMap
    val docs = Tables.documents(spark, sf)
      .filter(col("text").isNotNull && col("source").isNotNull)
      .select(col("source"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val toks = docs.flatMap { case (s, t) =>
      t.split(" ", -1).filter(_.nonEmpty).map(s -> _)
    }
    val head = toks.groupBy(_._2).map { case (w, g) => (w, g.length) }
      .toSeq.sortBy { case (w, c) => (-c, w) }.take(16).map(_._1).toSet
    for ((s, g) <- toks.groupBy(_._1)) {
      val oov = g.map(_._2).filterNot(head)
      val (gn, goov, gtypes, grate) = got(s)
      assert(gn === g.length.toLong, s"$s token total")
      assert(goov === oov.length.toLong, s"$s oov tokens")
      assert(gtypes === oov.distinct.length.toLong, s"$s oov types")
      assert(math.abs(grate - oov.length.toDouble / g.length) < 2e-6)
    }
    assert(got.keySet === toks.map(_._1).toSet)
  }

  test("q251 silhouette replays from double-mean centroids; |s| ≤ 1 and " +
      "the overlapping fixture reads as weak separation on both paths") {
    val out = graft.queries.Similarity.q251Silhouette.fn(spark, sf)
      .collect().map { r =>
        r.getInt(0) -> ((r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getDouble(2)),
          r.getDouble(3)))
      }.toMap
    val vecs = Tables.embeddings(spark, sf)
      .filter(col("label").isNotNull)
      .select(col("vec_id"), col("label"), col("embedding"))
      .collect().map(r => (r.getLong(0), r.getInt(1),
        r.getSeq[Float](2).map(v =>
          math.round(v.toDouble * 1e6) / 1e6).toArray))
    val byLabel = vecs.groupBy(_._2)
    val cents = byLabel.map { case (l, g) =>
      val dim = g.head._3.length
      l -> Array.tabulate(dim)(i => g.map(_._3(i)).sum / g.length)
    }
    val sByLabel = collection.mutable.Map.empty[Int, List[Double]]
    for ((_, l, v) <- vecs) {
      def d2(c: Array[Double]) =
        v.indices.map(i => (v(i) - c(i)) * (v(i) - c(i))).sum
      val a = math.sqrt(d2(cents(l)))
      val b = math.sqrt(cents.collect {
        case (cl, c) if cl != l => d2(c)
      }.min)
      val s = if (math.max(a, b) > 0) (b - a) / math.max(a, b) else 0.0
      sByLabel(l) = s :: sByLabel.getOrElse(l, Nil)
    }
    for ((l, ss) <- sByLabel) {
      val (gn, gmean, gneg) = out(l)
      assert(gn === ss.length.toLong)
      assert(math.abs(gmean.get - ss.sum / ss.length) < 1e-4, s"label $l")
      assert(math.abs(gneg - ss.count(_ < 0).toDouble / ss.length) < 1e-4)
      assert(gmean.get.abs <= 1.0 + 1e-9)
    }
    // measured truth about this corpus (replay CONCURS): the label
    // clouds overlap enough that every centroid-silhouette mean sits
    // slightly BELOW zero (≈ −0.006) — the operator correctly reports
    // weak separation; the per-label exact agreement above is the net,
    // and q93 holds the complementary dispersion evidence
    assert(out.values.forall { case (_, m, neg) =>
      m.get > -0.2 && neg >= 0.0 && neg <= 1.0
    })
    assert(out.keySet === sByLabel.keySet)
  }

  test("q244 seasonal EWMA replays through the sequential recurrence " +
      "over driver-deseasonalized series; residuals sum to ~0") {
    val got = Analytic.q244SeasonalEwma.fn(spark, sf).collect().map { r =>
      (r.getString(0), r.getTimestamp(1).getTime / 3600000L) ->
        ((r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5),
          if (r.isNullAt(6)) None else Some(r.getDouble(6))))
    }.toMap
    val raw = Tables.events(spark, sf)
      .filter(col("ts").isNotNull && col("event_type").isNotNull)
      .select(col("event_type"), expr("unix_micros(ts) div 3600000000"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    for ((t, v) <- raw.groupBy(_._1)) {
      val hs = v.map(_._2)
      val (m0, m1) = (hs.min, hs.max)
      val cnt = hs.groupBy(identity).map { case (h, g) => h -> g.length.toLong }
      val xs = (m0 to m1).map(h => cnt.getOrElse(h, 0L)).toArray
      val prof = xs.indices.groupBy(i => (m0 + i) % 24).map {
        case (h, is) => h -> is.map(xs(_)).sum.toDouble / is.length
      }
      val dvals = xs.indices.map(i => xs(i) - prof((m0 + i) % 24))
      assert(math.abs(dvals.sum) < 1e-6 * (1 + xs.sum), s"$t residual sum")
      var z = 0.0
      for (i <- xs.indices) {
        z = 0.2 * dvals(i) + 0.8 * z // the literal recurrence, seed 0
        val (gn, gseas, gdes, gadj, gfc) = got((t, m0 + i))
        assert(gn === xs(i))
        assert(math.abs(gseas - prof((m0 + i) % 24)) < 1e-5, s"$t@$i seas")
        assert(math.abs(gdes - dvals(i)) < 1e-5, s"$t@$i deseason")
        assert(math.abs(gadj - z) < 1e-4, s"$t@$i adj $gadj vs $z")
        prof.get((m0 + i + 1) % 24) match {
          case Some(s2) =>
            assert(math.abs(gfc.get - (z + s2)) < 1e-4, s"$t@$i forecast")
          case None => assert(gfc.isEmpty, s"$t@$i forecast must be NULL")
        }
      }
    }
  }

  test("q252 SRM replays from a Scala hash split; chi2 identity " +
      "(3*sum(O^2) - n^2)/n matches the direct three-term sum") {
    val got = Stats.q252SrmCheck.fn(spark, sf).collect().map { r =>
      r.getLong(0) -> ((r.getLong(1), r.getDouble(3), r.getDouble(4),
        r.getString(5) == "srm"))
    }.toMap
    val users = Tables.events(spark, sf)
      .filter(col("user_id").isNotNull)
      .select(col("user_id")).distinct().collect().map(_.getLong(0))
    def arm(u: Long): Long = {
      // 8 hex digits (4 bytes), matching the mod-3-bias fix in the query
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"srm|$u".getBytes("UTF-8"))
      val hex = h.take(4).map(b => f"${b & 0xff}%02x").mkString
      java.lang.Long.parseLong(hex, 16) % 3
    }
    val byArm = users.groupBy(arm).map { case (a, g) => a -> g.length.toLong }
    val n = users.length.toLong
    // direct three-term chi-square (including absent arms' (0 - n/3)^2)
    val chi2 = (0L to 2L).map { a =>
      val o = byArm.getOrElse(a, 0L).toDouble
      val e = n / 3.0
      (o - e) * (o - e) / e
    }.sum
    for ((a, o) <- byArm) {
      val (go, gchi, gp, gflag) = got(a)
      assert(go === o, s"arm $a count")
      assert(math.abs(gchi - chi2) < 1e-4 * (1 + chi2), s"arm $a chi2")
      val p = math.exp(-chi2 / 2)
      assert(math.abs(gp - p) < 1e-4, s"arm $a p")
      assert(gflag === (p < 0.001))
    }
    assert(got.keySet === byArm.keySet)
  }

  test("q253 post-stratified ATE replays from a Scala ntile + cell means; " +
      "weights sum to one and the ATE matches the weighted combination") {
    val got = Stats.q253PostStratAte.fn(spark, sf).collect().map { r =>
      r.getInt(0) -> ((r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)),
        if (r.isNullAt(4)) None else Some(r.getDouble(4))))
    }.toMap
    val ev = Tables.events(spark, sf)
      .filter(col("user_id").isNotNull)
      .select(col("user_id"), col("value")).collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) 0L else math.round(100 * r.getDouble(1))))
    def arm(u: Long): Long = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"ab|$u".getBytes("UTF-8"))
      java.lang.Long.parseLong(f"${h(0) & 0xff}%02x".take(1), 16) % 2
    }
    val perUser = ev.groupBy(_._1).map { case (u, g) =>
      (u, arm(u), g.length.toLong, g.map(_._2).sum)
    }.toSeq
    // Scala ntile(4) over (n_events DESC, user_id): same fill rule as SQL
    val ordered = perUser.sortBy { case (u, _, ne, _) => (-ne, u) }
    val n = ordered.length
    val strata = ordered.zipWithIndex.map { case (row, i) =>
      // SQL ntile: first (n % 4) buckets get ceil(n/4), rest floor(n/4)
      val big = n % 4; val sz = n / 4
      val s = if (i < big * (sz + 1)) i / (sz + 1)
        else big + (i - big * (sz + 1)) / sz
      (s + 1, row)
    }
    val cells = strata.groupBy(_._1).map { case (st, g) =>
      val t = g.filter(_._2._2 == 1L); val c = g.filter(_._2._2 == 0L)
      st -> ((t.length.toLong, t.map(_._2._4).sum,
        c.length.toLong, c.map(_._2._4).sum))
    }
    var ate = 0.0; var ok = true
    for ((_, (nt, sct, nc, scc)) <- cells) {
      if (nt == 0 || nc == 0) ok = false
      else ate += (sct.toDouble / nt - scc.toDouble / nc) / 100.0 *
        ((nt + nc).toDouble / n)
    }
    for ((st, (nt, sct, nc, scc)) <- cells) {
      val (gnt, gnc, gdiff, gate) = got(st)
      assert(gnt === nt && gnc === nc, s"stratum $st arm sizes")
      if (nt > 0 && nc > 0) {
        val diff = (sct.toDouble / nt - scc.toDouble / nc) / 100.0
        assert(math.abs(gdiff.get - diff) < 1e-5 * (1 + diff.abs))
      } else assert(gdiff.isEmpty)
      if (ok) assert(math.abs(gate.get - ate) < 1e-4 * (1 + ate.abs))
      else assert(gate.isEmpty)
    }
    assert(got.keySet === cells.keySet)
  }

  test("q254 MDE replays from direct variance; detectability is monotone " +
      "in variance and shrinks with span") {
    val got = Stats.q254MdePower.fn(spark, sf).collect().map { r =>
      r.getString(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), if (r.isNullAt(5)) None else Some(r.getDouble(5))))
    }.toMap
    val raw = Tables.events(spark, sf)
      .filter(col("ts").isNotNull && col("event_type").isNotNull)
      .select(col("event_type"), expr("unix_micros(ts) div 86400000000"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    for ((t, g) <- raw.groupBy(_._1)) {
      val days = g.map(_._2)
      val (d0, d1) = (days.min, days.max)
      val cnt = days.groupBy(identity).map { case (d, v) => d -> v.length }
      val xs = (d0 to d1).map(d => cnt.getOrElse(d, 0).toDouble)
      val nn = xs.length
      if (nn > 1) {
        val mu = xs.sum / nn
        val s2 = xs.map(x => (x - mu) * (x - mu)).sum / (nn - 1)
        val mde = 2.801585 * math.sqrt(2 * s2 / nn)
        val (gn, gmean, gvar, gmde, grel) = got(t)
        assert(gn === nn.toLong, s"$t days")
        assert(math.abs(gmean - mu) < 2e-6 * (1 + mu))
        assert(math.abs(gvar - s2) < 1e-4 * (1 + s2), s"$t var")
        assert(math.abs(gmde - mde) < 1e-4 * (1 + mde), s"$t mde")
        if (mu > 0) assert(math.abs(grel.get - mde / mu) < 1e-4)
      } else assert(!got.contains(t))
    }
  }

  test("q255 RD replays from a Scala rank split + per-side OLS; the " +
      "effect is the intercept jump") {
    val got = Stats.q255RegDiscontinuity.fn(spark, sf).collect().map { r =>
      r.getString(0) -> ((r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)),
        if (r.isNullAt(4)) None else Some(r.getDouble(4))))
    }.toMap
    val ev = Tables.events(spark, sf)
      .filter(col("ts").isNotNull && col("user_id").isNotNull)
      .select(col("user_id"), col("event_type"),
        expr("unix_micros(ts)").as("us")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val mid = (ev.map(_._3).min + ev.map(_._3).max) / 2
    val perUser = ev.groupBy(_._1).map { case (u, g) =>
      (u, g.count(_._3 <= mid).toLong,
        g.count(e => e._3 > mid && e._2 == "purchase").toLong)
    }.filter(_._2 > 0).toSeq
    val ranked = perUser.sortBy { case (u, s1, _) => (-s1, u) }.zipWithIndex
      .map { case ((_, _, y), i) => (i + 1L, y) }
    val n = ranked.length.toLong
    val c = (n + 1) / 2; val h = n / 4
    def fit(pts: Seq[(Long, Long)]): Option[(Double, Double)] = {
      val k = pts.length.toDouble
      val sx = pts.map(_._1 - c).sum.toDouble
      val sy = pts.map(_._2).sum.toDouble
      val sxx = pts.map(p => (p._1 - c) * (p._1 - c)).sum.toDouble
      val sxy = pts.map(p => (p._1 - c) * p._2).sum.toDouble
      val den = k * sxx - sx * sx
      if (den == 0) None
      else Some(((k * sxy - sx * sy) / den, (sy * sxx - sx * sxy) / den))
    }
    val left = fit(ranked.filter(p => p._1 > c - h && p._1 <= c))
    val right = fit(ranked.filter(p => p._1 > c && p._1 <= c + h))
    for ((side, f, kx) <- Seq(
      ("left", left, ranked.count(p => p._1 > c - h && p._1 <= c)),
      ("right", right, ranked.count(p => p._1 > c && p._1 <= c + h)))) {
      val (gk, gs, gi, geff) = got(side)
      assert(gk === kx.toLong, s"$side n")
      f match {
        case Some((sl, ic)) =>
          assert(math.abs(gs.get - sl) < 1e-4 * (1 + sl.abs), s"$side slope")
          assert(math.abs(gi.get - ic) < 1e-4 * (1 + ic.abs), s"$side icept")
        case None => assert(gs.isEmpty && gi.isEmpty)
      }
      (left, right) match {
        case (Some((_, al)), Some((_, ar))) =>
          assert(math.abs(geff.get - (al - ar)) < 1e-4 * (1 + (al - ar).abs))
        case _ => assert(geff.isEmpty)
      }
    }
  }

  test("q256 Qini replays from a Scala cumulative ledger; the final " +
      "coordinate equals the overall scaled conversion difference") {
    val got = Stats.q256UpliftQini.fn(spark, sf).collect().map { r =>
      r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4),
        if (r.isNullAt(5)) None else Some(r.getDouble(5)),
        if (r.isNullAt(6)) None else Some(r.getDouble(6))))
    }.toMap
    val ev = Tables.events(spark, sf)
      .filter(col("ts").isNotNull && col("user_id").isNotNull)
      .select(col("user_id"), col("event_type"),
        expr("unix_micros(ts)").as("us")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val mid = (ev.map(_._3).min + ev.map(_._3).max) / 2
    def arm(u: Long): Long = {
      val hb = java.security.MessageDigest.getInstance("MD5")
        .digest(s"ab|$u".getBytes("UTF-8"))
      java.lang.Long.parseLong(f"${hb(0) & 0xff}%02x".take(1), 16) % 2
    }
    val perUser = ev.groupBy(_._1).map { case (u, g) =>
      (u, arm(u), g.count(_._3 <= mid).toLong,
        if (g.exists(e => e._3 > mid && e._2 == "purchase")) 1L else 0L)
    }.filter(_._3 > 0).toSeq
    val ordered = perUser.sortBy { case (u, _, s1, _) => (-s1, u) }
    val n = ordered.length
    val cells = ordered.zipWithIndex.map { case (row, i) =>
      val big = n % 10; val sz = n / 10
      val dcl = if (sz == 0) i
        else if (i < big * (sz + 1)) i / (sz + 1)
        else big + (i - big * (sz + 1)) / sz
      (dcl + 1, row)
    }.groupBy(_._1).map { case (dcl, g) =>
      val t = g.map(_._2).filter(_._2 == 1L)
      val cc = g.map(_._2).filter(_._2 == 0L)
      dcl -> ((t.length.toLong, t.map(_._4).sum, cc.length.toLong,
        cc.map(_._4).sum))
    }
    var (cnt, cxt, cnc, cxc) = (0L, 0L, 0L, 0L)
    for (dcl <- cells.keys.toSeq.sorted) {
      val (nt, xt, nc, xc) = cells(dcl)
      cnt += nt; cxt += xt; cnc += nc; cxc += xc
      val (gnt, gxt, gnc, gxc, gup, gqini) = got(dcl)
      assert((gnt, gxt, gnc, gxc) === ((nt, xt, nc, xc)), s"decile $dcl")
      if (nt > 0 && nc > 0) {
        val up = xt.toDouble / nt - xc.toDouble / nc
        assert(math.abs(gup.get - up) < 1e-5, s"decile $dcl uplift")
      }
      if (cnc > 0) {
        val qini = cxt - cxc.toDouble * cnt / cnc
        assert(math.abs(gqini.get - qini) < 1e-4 * (1 + qini.abs))
      }
    }
    // final coordinate: total treated conversions minus scaled control
    val lastD = cells.keys.max
    if (cnc > 0) {
      val overall = cxt - cxc.toDouble * cnt / cnc
      assert(math.abs(got(lastD)._6.get - overall) < 1e-4 * (1 + overall.abs))
    }
  }

  test("q257 CvM replays from a Scala sorted-gap sum and never exceeds " +
      "the KS-implied square bound") {
    val got = Stats.q257CramerVonMises.fn(spark, sf).collect().map { r =>
      r.getString(0) -> ((r.getLong(1), r.getDouble(3),
        r.getString(4) == "poisson_like"))
    }.toMap
    val ev = Tables.events(spark, sf)
      .filter(col("ts").isNotNull && col("event_type").isNotNull)
      .select(col("event_type"), col("event_id"),
        expr("unix_micros(ts)").as("us")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    for ((t, g) <- ev.groupBy(_._1)) {
      val sortedEv = g.sortBy(e => (e._3, e._2))
      val gaps = sortedEv.sliding(2).collect {
        case Array(a, b) => b._3 - a._3
      }.toSeq
      if (gaps.nonEmpty) {
        val n = gaps.length
        val sg = gaps.sum
        val lam = n.toDouble / sg
        val sorted = gaps.sorted
        val w2 = 1.0 / (12 * n) + sorted.zipWithIndex.map { case (gp, i0) =>
          val f = 1 - math.exp(-lam * gp).toFloat
          val u = (2 * (i0 + 1) - 1).toDouble / (2 * n)
          (f - u) * (f - u)
        }.sum
        val (gn, gw2, gflag) = got(t)
        assert(gn === n.toLong, s"$t gaps")
        assert(math.abs(gw2 - w2) < 1e-4 * (1 + w2), s"$t W2")
        assert(gflag === (w2 < 0.461), s"$t verdict")
        // W² ≤ 1/(12n) + n·D² where D is the KS sup over the same fit —
        // a real cross-operator bound tying q257 to q234's statistic
        val ksD = sorted.zipWithIndex.map { case (gp, i0) =>
          val f = 1 - math.exp(-lam * gp).toFloat
          math.max((i0 + 1).toDouble / n - f, f - i0.toDouble / n)
        }.max
        assert(gw2 <= 1.0 / (12 * n) + n * ksD * ksD + 1e-9,
          s"$t CvM exceeds its KS envelope")
      } else assert(!got.contains(t))
    }
  }

  test("q258 DW replays from a direct residual walk; DW and 2(1-r1) " +
      "agree to the boundary-term order") {
    val got = Stats.q258DurbinWatson.fn(spark, sf).collect().map { r =>
      r.getString(0) -> ((r.getLong(1), r.getDouble(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3))))
    }.toMap
    val raw = Tables.events(spark, sf)
      .filter(col("ts").isNotNull && col("event_type").isNotNull)
      .select(col("event_type"), expr("unix_micros(ts) div 86400000000"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    for ((t, g) <- raw.groupBy(_._1)) {
      val days = g.map(_._2)
      val cnt = days.groupBy(identity).map { case (d, v) => d -> v.length }
      val xs = (days.min to days.max).map(d =>
        cnt.getOrElse(d, 0).toDouble).toArray
      val n = xs.length
      if (n > 1) {
        val ts = xs.indices.map(_.toDouble)
        val (st, sx) = (ts.sum, xs.sum)
        val stt = ts.map(v => v * v).sum
        val stx = ts.zip(xs).map { case (a, b) => a * b }.sum
        val den = n * stt - st * st
        val slope = (n * stx - st * sx) / den
        val icept = (sx * stt - st * stx) / den
        val e = xs.indices.map(i => xs(i) - icept - slope * i)
        val sse = e.map(v => v * v).sum
        val ssd = e.sliding(2).collect { case Seq(a, b) =>
          (b - a) * (b - a) }.sum
        val (gn, gslope, gdw) = got(t)
        assert(gn === n.toLong, s"$t days")
        assert(math.abs(gslope - slope) < 1e-4 * (1 + slope.abs))
        if (sse > 0) {
          val dw = ssd / sse
          assert(math.abs(gdw.get - dw) < 1e-3 * (1 + dw), s"$t DW")
          // DW ≈ 2(1 − ρ̂₁): the identity holds up to boundary terms
          val mu = xs.sum / n
          val c0 = e.map(v => v * v).sum
          val c1 = e.sliding(2).collect { case Seq(a, b) => a * b }.sum
          assert(math.abs(dw - 2 * (1 - c1 / c0)) <
            4.0 * (e.head * e.head + e.last * e.last) / c0 + 1e-6,
            s"$t DW vs 2(1-r1): boundary envelope")
        } else assert(gdw.isEmpty)
      } else assert(!got.contains(t))
    }
  }

  test("q259 Friedman replays from Scala midranks; rank sums conserve " +
      "the block total n*k*(k+1)/2 exactly") {
    val got = Stats.q259Friedman.fn(spark, sf).collect().map { r =>
      r.getString(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getLong(4)))
    }.toMap
    val raw = Tables.events(spark, sf)
      .filter(col("ts").isNotNull && col("event_type").isNotNull)
      .select(col("event_type"), expr("unix_micros(ts) div 86400000000"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val types = raw.map(_._1).distinct.sorted
    val (d0, d1) = (raw.map(_._2).min, raw.map(_._2).max)
    val k = types.length
    val n = (d1 - d0 + 1).toInt
    val cnt = raw.groupBy(e => (e._1, e._2)).map { case (kk, v) =>
      kk -> v.length.toLong }
    // Scala midranks (×2): per day, r2 = 2·|{smaller}| + ties + 1
    val r2j = collection.mutable.Map[String, Long]().withDefaultValue(0L)
    for (d <- d0 to d1) {
      val cs = types.map(t => t -> cnt.getOrElse((t, d), 0L))
      for ((t, c) <- cs) {
        val smaller = cs.count(_._2 < c)
        val ties = cs.count(_._2 == c)
        r2j(t) += 2L * smaller + ties + 1
      }
    }
    // conservation: Σ_j R2_j = 2 · n·k(k+1)/2 = n·k·(k+1)
    assert(r2j.values.sum === n.toLong * k * (k + 1),
      "midrank block total must conserve exactly")
    val sr2 = r2j.values.map(v => v * v).sum
    val q = 3.0 * sr2 / (n.toLong * k * (k + 1)) - 3.0 * n * (k + 1)
    for (t <- types) {
      val (gn, gmr, gq, gdf) = got(t)
      assert(gn === n.toLong && gdf === (k - 1).toLong, s"$t shape")
      assert(math.abs(gmr - r2j(t).toDouble / (2 * n)) < 2e-6, s"$t rank")
      assert(math.abs(gq - q) < 1e-4 * (1 + q.abs), s"$t Q")
    }
  }

  test("q260 Ansari-Bradley replays from a Scala rank-score walk; arm " +
      "scores conserve the total sum(min(i, N+1-i))") {
    val got = Stats.q260AnsariBradley.fn(spark, sf).collect().map { r =>
      r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3),
        if (r.isNullAt(4)) None else Some(r.getDouble(4))))
    }.toMap
    val v = Tables.events(spark, sf)
      .filter(col("value").isNotNull && col("user_id").isNotNull)
      .select(col("event_id"),
        expr("CAST(round(100 * value) AS BIGINT)").as("cents"),
        col("user_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    def arm(u: Long): Long = {
      val hb = java.security.MessageDigest.getInstance("MD5")
        .digest(s"ab|$u".getBytes("UTF-8"))
      java.lang.Long.parseLong(f"${hb(0) & 0xff}%02x".take(1), 16) % 2
    }
    val ranked = v.sortBy(e => (e._2, e._1)).zipWithIndex
      .map { case ((_, _, u), i0) => (arm(u), i0 + 1L) }
    val nn = ranked.length.toLong
    val scores = ranked.map { case (a, i) => (a, math.min(i, nn + 1 - i)) }
    val total = scores.map(_._2).sum
    // conservation: the two arms partition sum(min(i, N+1-i))
    assert(got.values.map(_._2).sum === total, "score conservation")
    for ((a, g) <- scores.groupBy(_._1)) {
      val w = g.map(_._2).sum; val na = g.length.toLong
      val (gna, gw, gew, gz2) = got(a)
      assert(gna === na && gw === w, s"arm $a W")
      val (ew, vw) =
        if (nn % 2 == 0)
          (na.toDouble * (nn + 2) / 4,
            na.toDouble * (nn - na) * (nn + 2) * (nn - 2) /
              (48.0 * (nn - 1)))
        else
          (na.toDouble * (nn + 1) * (nn + 1) / (4.0 * nn),
            na.toDouble * (nn - na) * (nn + 1) * (3.0 + nn.toDouble * nn) /
              48.0 / (nn.toDouble * nn))
      assert(math.abs(gew - ew) < 1e-4 * (1 + ew), s"arm $a E[W]")
      if (vw > 0) {
        val z2 = (w - ew) * (w - ew) / vw
        assert(math.abs(gz2.get - z2) < 1e-3 * (1 + z2), s"arm $a z2")
      } else assert(gz2.isEmpty)
    }
  }

  test("q261 Hurst replays from a direct Scala block walk; a kept block " +
      "always has positive range and the shuffled-data slope stays sane") {
    val got = Stats.q261HurstRs.fn(spark, sf).collect().map { r =>
      (r.getString(0), r.getLong(1)) -> ((r.getLong(2), r.getDouble(3),
        if (r.isNullAt(4)) None else Some(r.getDouble(4))))
    }.toMap
    val raw = Tables.events(spark, sf)
      .filter(col("ts").isNotNull && col("event_type").isNotNull)
      .select(col("event_type"), expr("unix_micros(ts) div 3600000000"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    for ((t, g) <- raw.groupBy(_._1)) {
      val hrs = g.map(_._2)
      val cnt = hrs.groupBy(identity).map { case (h, v) => h -> v.length }
      val xs = (hrs.min to hrs.max).map(h =>
        cnt.getOrElse(h, 0).toLong).toArray
      val pts = collection.mutable.ArrayBuffer[(Long, Double)]()
      for (m <- Seq(8L, 16L, 32L, 64L)) {
        val full = (xs.length / m).toInt
        val rsvs = (0 until full).flatMap { bid =>
          val blk = xs.slice((bid * m).toInt, ((bid + 1) * m).toInt)
          val sS = blk.sum; val q = blk.map(v => v * v).sum
          val varN = m * q - sS * sS
          if (varN > 0) {
            var p = 0L
            val cs = blk.zipWithIndex.map { case (v, k) =>
              p += v; m * p - (k + 1) * sS
            }
            assert(cs.max > cs.min,
              s"$t m=$m bid=$bid kept block must have positive range")
            Some((cs.max - cs.min).toDouble / math.sqrt(varN.toDouble))
          } else None
        }
        if (rsvs.nonEmpty) {
          val mean = rsvs.sum / rsvs.length
          val (gnb, gmean, _) = got((t, m))
          assert(gnb === rsvs.length.toLong, s"$t m=$m blocks")
          assert(math.abs(gmean - mean) < 1e-4 * (1 + mean), s"$t m=$m RS")
          if (mean > 0) pts += ((m, math.log(mean)))
        } else assert(!got.contains((t, m)))
      }
      if (pts.length >= 2) {
        val lx = pts.map(p => math.log(p._1.toDouble))
        val ly = pts.map(_._2)
        val np = pts.length
        val (sx, sy) = (lx.sum, ly.sum)
        val sxx = lx.map(v => v * v).sum
        val sxy = lx.zip(ly).map { case (a, b) => a * b }.sum
        val h = (np * sxy - sx * sy) / (np * sxx - sx * sx)
        val gh = got((pts.headOption.map(_ => (t, pts.head._1)).get))._3
        assert(gh.isDefined && math.abs(gh.get - h) < 1e-3 * (1 + h.abs),
          s"$t Hurst $gh vs $h")
        // an aggregated-count series has H in a sane band
        assert(gh.get > -0.5 && gh.get < 1.5, s"$t H out of band")
      }
    }
  }

  test("q262 Croston replays from the sequential recurrence; the " +
      "truncated closed form converges onto it past the lag horizon") {
    val got = Stats.q262Croston.fn(spark, sf).collect().map { r =>
      r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4),
        if (r.isNullAt(5)) None else Some(r.getDouble(5))))
    }.toMap
    val raw = Tables.events(spark, sf)
      .filter(col("ts").isNotNull && col("event_type").isNotNull)
      .select(col("event_type"), expr("unix_micros(ts) div 86400000000"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    for ((t, g) <- raw.groupBy(_._1)) {
      val byDay = g.groupBy(_._2).map { case (d, v) => d -> v.length.toLong }
        .toSeq.sortBy(_._1)
      val m = byDay.length
      // sequential zero-seeded recurrence s ← s + α(v − s) started at 0
      var sz = 0.0
      for ((_, z) <- byDay) sz = sz + 0.2 * (z - sz)
      var sq = 0.0
      for (Seq((d0, _), (d1, _)) <- byDay.sliding(2) if m >= 2)
        sq = sq + 0.2 * ((d1 - d0) - sq)
      // NOTE the recurrence s_i = 0.8·s_{i−1} + 0.2·v_i from zero seed
      // equals the closed form Σ 0.2·0.8^{M−i}·v_i exactly in ℝ; the
      // engine's decimal-quantized sum agrees to ~1e-6
      val (gm, gtz, gsz, gsq, gf) = got(t)
      assert(gm === m.toLong, s"$t demand points")
      assert(gtz === byDay.map(_._2).sum, s"$t total demand")
      assert(math.abs(gsz - sz) < 1e-4 * (1 + sz), s"$t smoothed size")
      if (m >= 2) {
        assert(math.abs(gsq - sq) < 1e-4 * (1 + sq), s"$t smoothed gap")
        if (sq > 0)
          assert(math.abs(gf.get - sz / sq) < 1e-3 * (1 + sz / sq))
      } else assert(gf.isEmpty)
    }
  }

  test("q263 Brown-Forsythe replays from a direct median-deviation " +
      "ANOVA; the F is invariant to the 2x deviation scaling") {
    val got = Stats.q263BrownForsythe.fn(spark, sf).collect().map { r =>
      r.getString(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3),
        if (r.isNullAt(4)) None else Some(r.getDouble(4))))
    }.toMap
    val raw = Tables.events(spark, sf)
      .filter(col("ts").isNotNull && col("event_type").isNotNull)
      .select(col("event_type"), expr("unix_micros(ts) div 86400000000"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    // per-type zero-filled series, UNSCALED |dev from median| (the 2x
    // carried by the engine must cancel in F)
    val groups = raw.groupBy(_._1).map { case (t, g) =>
      val days = g.map(_._2)
      val cnt = days.groupBy(identity).map { case (d, v) => d -> v.length }
      val xs = (days.min to days.max).map(d =>
        cnt.getOrElse(d, 0).toLong).sorted
      val n = xs.length
      val med = if (n % 2 == 0) (xs(n / 2 - 1) + xs(n / 2)) / 2.0
        else xs(n / 2).toDouble
      t -> ((n, med, xs.map(x => math.abs(x - med))))
    }
    val k = groups.size
    val nn = groups.values.map(_._1).sum
    val allZ = groups.values.flatMap(_._3)
    val grand = allZ.sum / nn
    val ssb = groups.values.map { case (n, _, zs) =>
      val mu = zs.sum / n; n * (mu - grand) * (mu - grand) }.sum
    val ssw = groups.values.map { case (_, _, zs) =>
      val mu = zs.sum / zs.length
      zs.map(z => (z - mu) * (z - mu)).sum }.sum
    for ((t, (n, med, zs)) <- groups) {
      val (gn, gmed, gdev, gf) = got(t)
      assert(gn === n.toLong, s"$t days")
      assert(math.abs(gmed - med) < 1e-9, s"$t median")
      assert(math.abs(gdev - zs.sum / n) < 2e-6 * (1 + zs.sum / n))
      if (k > 1 && nn > k && ssw > 0) {
        val fst = (ssb / (k - 1)) / (ssw / (nn - k))
        assert(math.abs(gf.get - fst) < 1e-3 * (1 + fst), s"$t F")
      } else assert(gf.isEmpty)
    }
    assert(got.keySet === groups.keySet)
  }

  test("q264 PACF replays from a direct Durbin-Levinson on directly " +
      "computed autocorrelations; phi11 equals acf1") {
    val got = Stats.q264Pacf.fn(spark, sf).collect().map { r =>
      r.getString(0) -> ((r.getLong(1), r.getDouble(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)),
        if (r.isNullAt(4)) None else Some(r.getDouble(4)),
        r.getInt(5)))
    }.toMap
    val raw = Tables.events(spark, sf)
      .filter(col("ts").isNotNull && col("event_type").isNotNull)
      .select(col("event_type"), expr("unix_micros(ts) div 3600000000"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    for ((t, g) <- raw.groupBy(_._1)) {
      val hrs = g.map(_._2)
      val cnt = hrs.groupBy(identity).map { case (h, v) => h -> v.length }
      val xs = (hrs.min to hrs.max).map(h =>
        cnt.getOrElse(h, 0).toDouble).toArray
      val n = xs.length
      if (n > 3) {
        val mu = xs.sum / n
        val c0 = xs.map(v => (v - mu) * (v - mu)).sum
        def rho(k: Int): Double =
          (0 until n - k).map(i => (xs(i) - mu) * (xs(i + k) - mu)).sum / c0
        val (r1, r2, r3) = (rho(1), rho(2), rho(3))
        val f22 = (r2 - r1 * r1) / (1 - r1 * r1)
        val f21 = r1 * (1 - f22)
        val f33 = (r3 - f21 * r2 - f22 * r1) / (1 - f21 * r1 - f22 * r2)
        val (gn, gp1, gp2, gp3, gord) = got(t)
        assert(gn === n.toLong, s"$t span")
        assert(math.abs(gp1 - r1) < 1e-4, s"$t pacf1=acf1")
        assert(math.abs(gp2.get - f22) < 1e-3, s"$t pacf2")
        assert(math.abs(gp3.get - f33) < 1e-3, s"$t pacf3")
        val band = 1.96 / math.sqrt(n.toDouble)
        val ord = if (f33.abs > band) 3 else if (f22.abs > band) 2
          else if (r1.abs > band) 1 else 0
        assert(gord === ord, s"$t ar order")
      } else assert(!got.contains(t))
    }
  }

  test("q265 Grubbs replays from a direct max-deviation scan; the " +
      "flagged day is the argmax under the (dev DESC, day) order") {
    val got = Stats.q265Grubbs.fn(spark, sf).collect().map { r =>
      r.getString(0) -> ((r.getLong(1), r.getLong(2),
        if (r.isNullAt(4)) Double.NaN else r.getDouble(4),
        if (r.isNullAt(5)) None else Some(r.getString(5))))
    }.toMap
    val raw = Tables.events(spark, sf)
      .filter(col("ts").isNotNull && col("event_type").isNotNull)
      .select(col("event_type"), expr("unix_micros(ts) div 86400000000"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    for ((t, g) <- raw.groupBy(_._1)) {
      val days = g.map(_._2)
      val cnt = days.groupBy(identity).map { case (d, v) =>
        d -> v.length.toLong }
      val series = (days.min to days.max).map(d =>
        d -> cnt.getOrElse(d, 0L))
      val n = series.length
      if (n > 1) {
        val mu = series.map(_._2).sum.toDouble / n
        val s2 = series.map { case (_, c) =>
          (c - mu) * (c - mu) }.sum / (n - 1)
        val (peakDay, peakC) = series.minBy { case (d, c) =>
          (-math.abs(c - mu), d) }
        val gg = math.abs(peakC - mu) / math.sqrt(s2)
        val (gn, gday, gG, gflag) = got(t)
        assert(gn === n.toLong, s"$t days")
        assert(gday === peakDay, s"$t peak day")
        if (s2 > 0) {
          assert(math.abs(gG - gg) < 1e-4 * (1 + gg), s"$t G")
          assert(gflag.get === (if (gg > 3.0) "outlier" else "clean"),
            s"$t flag")
        }
      } else assert(!got.contains(t))
    }
  }

  test("q266 Greenwood replays from direct spacing sums; the equal-" +
      "spacing floor G = 1/m is attained exactly by a metronome") {
    val got = Stats.q266Greenwood.fn(spark, sf).collect().map { r =>
      r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4)))
    }.toMap
    val ev = Tables.events(spark, sf)
      .filter(col("ts").isNotNull && col("event_type").isNotNull)
      .select(col("event_type"), col("event_id"),
        expr("unix_micros(ts)").as("us")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    for ((t, g) <- ev.groupBy(_._1)) {
      val sortedEv = g.sortBy(e => (e._3, e._2))
      val ds = sortedEv.sliding(2).collect { case Array(a, b) =>
        // floorDiv matches both engines' flooring // on the positive
        // gap (the (us, event_id) order makes it non-negative)
        java.lang.Math.floorDiv(b._3 - a._3, 1000000L)
      }.toSeq
      if (ds.nonEmpty) {
        val m = ds.length.toLong
        val sd = ds.sum; val sq = ds.map(v => v * v).sum
        val (gm, gsd, gG, gidx) = got(t)
        assert(gm === m && gsd === sd, s"$t spacing sums")
        if (sd > 0) {
          val gw = sq.toDouble / (sd.toDouble * sd)
          assert(math.abs(gG - gw) < 1e-6 * (1 + gw), s"$t G")
          assert(math.abs(gidx - gw * (m + 1) / 2) < 1e-4, s"$t index")
          // G ≥ 1/m always (Cauchy–Schwarz), equality iff equal spacings
          assert(gG >= 1.0 / m - 1e-9, s"$t Greenwood floor")
        }
      } else assert(!got.contains(t))
    }
  }

  test("q267 streaks/records replays from a direct Scala walk") {
    val got = Stats.q267StreaksRecords.fn(spark, sf).collect().map { r =>
      r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    }.toMap
    val raw = Tables.events(spark, sf)
      .filter(col("ts").isNotNull && col("event_type").isNotNull)
      .select(col("event_type"), expr("unix_micros(ts) div 86400000000"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    for ((t, g) <- raw.groupBy(_._1)) {
      val days = g.map(_._2)
      val cnt = days.groupBy(identity).map { case (d, v) =>
        d -> v.length.toLong }
      val series = (days.min to days.max).map(d =>
        d -> cnt.getOrElse(d, 0L))
      var records = 0L; var lastRec = 0L; var runMax = Long.MinValue
      var streak = 0L; var longest = 0L
      var prev = Option.empty[Long]
      for ((d, c) <- series) {
        if (c > runMax) { records += 1; lastRec = d; runMax = c }
        if (prev.exists(c > _)) { streak += 1; longest = longest max streak }
        else streak = 0
        prev = Some(c)
      }
      val (gn, grec, glast, glong) = got(t)
      assert(gn === series.length.toLong, s"$t days")
      assert(grec === records, s"$t records")
      assert(glast === lastRec, s"$t last record day")
      assert(glong === longest, s"$t longest rise")
    }
    assert(got.keySet === raw.map(_._1).toSet)
  }

  test("q268 anisotropy identity matches the BRUTE-FORCE pairwise mean " +
      "over the same quantized integers") {
    val got = Similarity.q268Anisotropy.fn(spark, sf).collect().map { r =>
      r.getInt(0) -> ((r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)),
        r.getDouble(3)))
    }.toMap
    val vecs = Tables.embeddings(spark, sf)
      .select(col("label"), col("embedding")).collect()
      .map(r => (r.getInt(0),
        r.getSeq[Float](1).map(v => math.round(v.toDouble * 1e6)).toArray))
    for ((lab, g) <- vecs.groupBy(_._1)) {
      val xs = g.map(_._2)
      val n = xs.length
      // brute force: every ordered pair i ≠ j
      var acc = BigInt(0)
      for (i <- xs.indices; j <- xs.indices if i != j)
        acc += xs(i).zip(xs(j)).map { case (a, b) => BigInt(a) * b }.sum
      val meanDot =
        if (n > 1) Some(BigDecimal(acc).toDouble / (n.toLong * (n - 1)) / 1e12)
        else None
      val sqn = xs.map(v => v.map(c => BigInt(c) * c).sum).sum
      val meanSq = BigDecimal(sqn).toDouble / n / 1e12
      val (gn, gdot, gsq) = got(lab)
      assert(gn === n.toLong, s"label $lab n")
      assert(math.abs(gsq - meanSq) < 1e-5 * (1 + meanSq), s"$lab sqnorm")
      (meanDot, gdot) match {
        case (Some(md), Some(gd)) =>
          assert(math.abs(gd - md) < 1e-5 * (1 + md.abs),
            s"label $lab identity vs brute force")
        case (a, b) => assert(a.isEmpty === b.isEmpty)
      }
    }
  }

  test("q269 TwoNN replays from a brute-force 2-NN scan; the estimate " +
      "is positive and finite on every populated label") {
    val got = Similarity.q269TwoNn.fn(spark, sf).collect().map { r =>
      r.getInt(0) -> ((r.getLong(1), r.getDouble(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3))))
    }.toMap
    val vecs = Tables.embeddings(spark, sf)
      .select(col("label"), col("vec_id"), col("embedding")).collect()
      .map(r => (r.getInt(0), r.getLong(1),
        r.getSeq[Float](2).map(v => math.round(v.toDouble * 1e6)).toArray))
    for ((lab, g) <- vecs.groupBy(_._1)) {
      val pts = g.map(p => (p._2, p._3))
      val terms = pts.flatMap { case (id, v) =>
        val ds = pts.filter(_._1 != id).map { case (jid, w) =>
          (v.zip(w).map { case (a, b) => (a - b) * (a - b) }.sum, jid)
        }.sorted
        if (ds.length >= 2 && ds(0)._1 > 0)
          Some(0.5 * math.log(ds(1)._1.toDouble / ds(0)._1).toFloat.toDouble)
        else None
      }
      if (terms.nonEmpty) {
        val slog = terms.sum
        val (gn, gslog, gid) = got(lab)
        assert(gn === terms.length.toLong, s"label $lab n_used")
        assert(math.abs(gslog - slog) < 1e-4 * (1 + slog.abs), s"$lab slog")
        if (terms.length >= 3 && slog > 0) {
          val id = terms.length / slog
          assert(math.abs(gid.get - id) < 1e-3 * (1 + id), s"$lab ID")
          assert(gid.get > 0 && gid.get < 1e6, s"$lab ID finite")
        } else assert(gid.isEmpty)
      } else assert(!got.contains(lab))
    }
  }

  test("q270 label noise replays from a brute-force global 1-NN; " +
      "per-label counts partition the corpus") {
    val got = Similarity.q270LabelNoise.fn(spark, sf).collect().map { r =>
      r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))
    }.toMap
    val vecs = Tables.embeddings(spark, sf)
      .select(col("label"), col("vec_id"), col("embedding")).collect()
      .map(r => (r.getInt(0), r.getLong(1),
        r.getSeq[Float](2).map(v => math.round(v.toDouble * 1e6)).toArray))
    val nnLabel = vecs.map { case (_, id, v) =>
      val (bd, bid, blab) = vecs.filter(_._2 != id).map { case (l2, j, w) =>
        (v.zip(w).map { case (a, b) => (a - b) * (a - b) }.sum, j, l2)
      }.minBy(t => (t._1, t._2))
      (id, blab)
    }.toMap
    val byLab = vecs.groupBy(_._1)
    for ((lab, g) <- byLab) {
      val dis = g.count(p => nnLabel(p._2) != lab).toLong
      val (gn, gd, grate) = got(lab)
      assert(gn === g.length.toLong, s"label $lab n")
      assert(gd === dis, s"label $lab disagreements")
      assert(math.abs(grate - dis.toDouble / g.length) < 2e-6)
    }
    assert(got.values.map(_._1).sum === vecs.length.toLong,
      "labels partition the corpus")
  }

  test("q271 temperature mixture replays from direct sqrt shares; " +
      "temp shares sum to 1 and flatten toward the tail") {
    val got = Curation.q271TemperatureMixture.fn(spark, sf).collect()
      .map { r => r.getString(0) -> ((r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4))) }.toMap
    val counts = Tables.documents(spark, sf)
      .filter(col("source").isNotNull)
      .groupBy(col("source")).agg(count(lit(1))).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val nn = counts.values.sum
    val srt = counts.values.map(n => math.sqrt(n.toDouble)).sum
    for ((s0, n) <- counts) {
      val (gn, graw, gtemp, gfac) = got(s0)
      assert(gn === n, s"$s0 count")
      assert(math.abs(graw - n.toDouble / nn) < 2e-6)
      val tshare = math.sqrt(n.toDouble) / srt
      assert(math.abs(gtemp - tshare) < 1e-5, s"$s0 temp share")
      assert(math.abs(gfac - tshare / (n.toDouble / nn)) < 1e-4)
      // flattening: the factor is anti-monotone in n — the largest
      // source is down-sampled iff any flattening happens at all
      if (n == counts.values.max && counts.values.toSet.size > 1)
        assert(gfac < 1.0, s"$s0 head source must down-sample")
      if (n == counts.values.min && counts.values.toSet.size > 1)
        assert(gfac > 1.0, s"$s0 tail source must up-sample")
    }
    assert(math.abs(got.values.map(_._3).sum - 1.0) < 1e-4,
      "temperature shares must renormalize to 1")
  }

  test("q272 class-balanced weights replay from the closed form; " +
      "weights are mean-1 and anti-monotone in class size") {
    val got = Similarity.q272ClassBalanced.fn(spark, sf).collect()
      .map { r => r.getInt(0) -> ((r.getLong(1), r.getDouble(2),
        r.getDouble(3))) }.toMap
    val counts = Tables.embeddings(spark, sf)
      .groupBy(col("label")).agg(count(lit(1))).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val raws = counts.map { case (l, n) =>
      l -> 0.001 / (1.0 - math.pow(0.999, n.toDouble).toFloat) }
    val k = counts.size
    val sraw = raws.values.sum
    for ((l, n) <- counts) {
      val (gn, geff, gw) = got(l)
      assert(gn === n, s"label $l n")
      val eff = (1.0 - math.pow(0.999, n.toDouble).toFloat) / 0.001
      assert(math.abs(geff - eff) < 1e-4 * (1 + eff), s"label $l eff")
      assert(math.abs(gw - raws(l) * k / sraw) < 1e-4, s"label $l w")
    }
    assert(math.abs(got.values.map(_._3).sum - k) < 1e-3,
      "weights must be mean 1 over classes")
    // anti-monotone: a strictly larger class never gets a larger weight
    val byN = counts.toSeq.sortBy(_._2).map { case (l, _) => got(l)._3 }
    for (Seq(a, b) <- byN.sliding(2)) assert(b <= a + 1e-9,
      "weight must not increase with class size")
  }

  test("q273 l-diversity/t-closeness replays from a Scala decile walk; " +
      "the global group has t = 0 by construction") {
    val got = graft.queries.Gaps.q273LdivTcloseness.fn(spark, sf)
      .collect().map { r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4), r.getLong(5),
          r.getDouble(6))) }.toMap
    val ev = Tables.events(spark, sf)
      .filter(col("ts").isNotNull && col("value").isNotNull
        && col("event_type").isNotNull)
      .select(col("event_type"),
        expr("(unix_micros(ts) div 3600000000) % 24").as("hod"),
        expr("CAST(round(100 * value) AS BIGINT)").as("cents"),
        col("event_id")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // Scala ntile(10) over (cents, event_id)
    val ordered = ev.sortBy(e => (e._3, e._4))
    val n = ordered.length
    val dec = ordered.zipWithIndex.map { case (e, i) =>
      val big = n % 10; val sz = n / 10
      val d0 = if (sz == 0) i
        else if (i < big * (sz + 1)) i / (sz + 1)
        else big + (i - big * (sz + 1)) / sz
      ((e._1, e._2), d0 + 1)
    }
    val globalCum = (1 to 10).map(b => b ->
      dec.count(_._2 <= b).toLong).toMap
    for ((grp, rows) <- dec.groupBy(_._1)) {
      val ng = rows.length.toLong
      val l = rows.map(_._2).distinct.length.toLong
      val tnum = (1 to 9).map { b =>
        val cg = rows.count(_._2 <= b).toLong
        math.abs(cg * n - globalCum(b) * ng)
      }.sum
      val t = tnum.toDouble / (9.0 * ng * n)
      val (gn, gl, gt, _, _) = got(grp)
      assert(gn === ng, s"$grp n")
      assert(gl === l, s"$grp l")
      assert(math.abs(gt - t) < 1e-5, s"$grp t")
    }
    // attached release gates agree with the column-wise extremes
    val minL = got.values.map(_._2).min
    val maxT = got.values.map(_._3).max
    assert(got.values.forall(_._4 == minL))
    assert(got.values.forall(v => math.abs(v._5 - maxT) < 1e-9))
  }

  test("q274 TOPSIS replays from a direct matrix computation; the " +
      "all-max source (if any) scores 1") {
    val got = Curation.q274Topsis.fn(spark, sf).collect().map { r =>
      r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) None else Some(r.getDouble(4)), r.getLong(5)))
    }.toMap
    val m = Tables.documents(spark, sf)
      .filter(col("source").isNotNull && col("n_chars").isNotNull
        && col("lang").isNotNull)
      .groupBy(col("source"))
      .agg(count(lit(1)), sum(col("n_chars")),
        countDistinct(col("lang"))).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val n1 = math.sqrt(m.map(v => v._2.toDouble * v._2).sum)
    val n2 = math.sqrt(m.map(v => v._3.toDouble * v._3).sum)
    val n3 = math.sqrt(m.map(v => v._4.toDouble * v._4).sum)
    val vs = m.map(v => (v._1, v._2 / n1, v._3 / n2, v._4 / n3,
      v._2, v._3, v._4))
    val (b1, b2, b3) = (vs.map(_._2).max, vs.map(_._3).max,
      vs.map(_._4).max)
    val (w1, w2, w3) = (vs.map(_._2).min, vs.map(_._3).min,
      vs.map(_._4).min)
    val scores = vs.map { case (s0, v1, v2, v3, d1, d2, d3) =>
      val dp = math.sqrt((v1 - b1) * (v1 - b1) + (v2 - b2) * (v2 - b2)
        + (v3 - b3) * (v3 - b3))
      val dm = math.sqrt((v1 - w1) * (v1 - w1) + (v2 - w2) * (v2 - w2)
        + (v3 - w3) * (v3 - w3))
      (s0, d1, d2, d3,
        if (dp + dm == 0) None else Some(dm / (dp + dm)))
    }
    for ((s0, d1, d2, d3, sc) <- scores) {
      val (gd1, gd2, gd3, gsc, _) = got(s0)
      assert((gd1, gd2, gd3) === ((d1, d2, d3)), s"$s0 metrics")
      (sc, gsc) match {
        case (Some(a), Some(b)) => assert(math.abs(a - b) < 1e-4, s"$s0")
        case (a, b) => assert(a.isEmpty === b.isEmpty)
      }
      // a source that is the max on all three metrics scores exactly 1
      if (d1 == m.map(_._2).max && d2 == m.map(_._3).max
        && d3 == m.map(_._4).max && scores.exists(_._5.exists(_ < 1)))
        assert(math.abs(gsc.get - 1.0) < 1e-9, s"$s0 ideal corner")
    }
    // ranks are a permutation of 1..k
    assert(got.values.map(_._5).toSeq.sorted === (1L to m.length).toSeq)
  }

  test("q275 Shapley replays from the exact subset formula; efficiency " +
      "Sum(phi) = v(all) - v(empty) holds in exact integers") {
    val got = Analytic.q275ShapleyAttribution.fn(spark, sf).collect()
      .map { r => r.getString(0) -> ((r.getLong(1), r.getDouble(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)))) }.toMap
    val ev = Tables.events(spark, sf)
      .filter(col("ts").isNotNull && col("user_id").isNotNull)
      .select(col("user_id"), col("event_type"),
        expr("unix_micros(ts)").as("us")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val byUser = ev.groupBy(_._1)
    val masks = byUser.flatMap { case (_, g) =>
      val purchases = g.filter(_._2 == "purchase")
      if (purchases.isEmpty) None
      else {
        val pus = purchases.map(_._3).min
        val touched = g.filter(e => e._3 < pus &&
          Set("view", "click", "signup")(e._2)).map(_._2).toSet
        Some((if (touched("view")) 1 else 0)
          + (if (touched("click")) 2 else 0)
          + (if (touched("signup")) 4 else 0))
      }
    }.toSeq
    val v = (0 to 7).map(mk => mk -> masks.count(_ == mk).toLong).toMap
    def sz(mk: Int): Int = Integer.bitCount(mk)
    val phi6 = Seq(("view", 1), ("click", 2), ("signup", 4)).map {
      case (c, bit) =>
        c -> (0 to 7).filter(mk => (mk & bit) == 0).map { mk =>
          val coeff = if (sz(mk) == 1) 1L else 2L
          coeff * (v(mk | bit) - v(mk))
        }.sum
    }.toMap
    for ((c, p6) <- phi6) {
      val (gp6, gphi, _) = got(c)
      assert(gp6 === p6, s"$c phi6 exact")
      assert(math.abs(gphi - p6 / 6.0) < 1e-6, s"$c phi (round-6 column)")
    }
    // efficiency: Σ(6φ) = 6·(v(111) − v(∅)) in exact integers
    assert(phi6.values.sum === 6 * (v(7) - v(0)),
      "Shapley efficiency identity")
    assert(got.values.map(_._1).sum === 6 * (v(7) - v(0)),
      "engine-side efficiency identity")
  }

  test("q276 Flesch replays from a Scala string walk; constant pieces " +
      "reproduce the formula exactly") {
    val got = TextAnalysis.q276Flesch.fn(spark, sf).collect().map { r =>
      r.getString(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4)))
    }.toMap
    val docs = Tables.documents(spark, sf)
      .filter(col("text").isNotNull && col("source").isNotNull)
      .select(col("source"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val vowelRun = "[aeiouy]+".r
    for ((s0, g) <- docs.groupBy(_._1)) {
      val scored = g.flatMap { case (_, t) =>
        val w = t.split(" ", -1).count(_.nonEmpty)
        val sen = math.max(1, t.count(c => c == '.' || c == '!'
          || c == '?'))
        val syl = math.max(1, vowelRun.findAllIn(t.toLowerCase).length)
        if (w > 0)
          Some((w.toLong,
            206.835 - 1.015 * (w.toDouble / sen) - 84.6 * (syl.toDouble / w)))
        else None
      }
      val (gn, gw, gf, geasy) = got(s0)
      assert(gn === scored.length.toLong, s"$s0 docs")
      assert(math.abs(gw - scored.map(_._1).sum.toDouble / scored.length)
        < 2e-6, s"$s0 mean words")
      val mean = scored.map(_._2).sum / scored.length
      assert(math.abs(gf - mean) < 1e-4 * (1 + mean.abs), s"$s0 flesch")
      val easy = scored.count(_._2 >= 60).toDouble / scored.length
      assert(math.abs(geasy - easy) < 2e-6, s"$s0 easy share")
    }
  }

  test("q277 window funnel replays from a per-user Scala chain search; " +
      "levels are monotone non-increasing") {
    val got = Analytic.q277WindowFunnel.fn(spark, sf).collect().map { r =>
      r.getInt(0) -> ((r.getLong(2), r.getDouble(3), r.getDouble(4)))
    }.toMap
    val ev = Tables.events(spark, sf)
      .filter(col("ts").isNotNull && col("user_id").isNotNull)
      .select(col("user_id"), col("event_type"),
        expr("unix_micros(ts)").as("us")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val byUser = ev.groupBy(_._1)
    var (n1, n2, n3) = (0L, 0L, 0L)
    for ((_, g) <- byUser) {
      val views = g.filter(_._2 == "view").map(_._3)
      val clicks = g.filter(_._2 == "click").map(_._3)
      val buys = g.filter(_._2 == "purchase").map(_._3)
      if (views.nonEmpty) {
        n1 += 1
        val l2 = views.exists(v =>
          clicks.exists(c => c > v && c <= v + 3600000000L))
        if (l2) n2 += 1
        val l3 = views.exists(v => clicks.exists(c => c > v
          && c <= v + 3600000000L
          && buys.exists(p => p > c && p <= v + 3600000000L)))
        if (l3) n3 += 1
      }
    }
    assert(got(1)._1 === n1 && got(2)._1 === n2 && got(3)._1 === n3)
    assert(n1 >= n2 && n2 >= n3, "funnel monotone")
    assert(got(1)._2 === 1.0 && got(1)._3 === 1.0, "anchor ratios")
    if (n1 > 0) {
      assert(math.abs(got(2)._2 - n2.toDouble / n1) < 2e-6)
      assert(math.abs(got(3)._3 - n3.toDouble / n1) < 2e-6)
    }
  }

  test("q278 gap-model LLR replays from direct log-likelihoods; the " +
      "algebraic collapse matches the summed per-point densities") {
    val got = Stats.q278GapModelLlr.fn(spark, sf).collect().map { r =>
      r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3),
        if (r.isNullAt(4)) None else Some(r.getDouble(4)),
        if (r.isNullAt(6)) None else Some(r.getString(6) == "heavy")))
    }.toMap
    val ev = Tables.events(spark, sf)
      .filter(col("ts").isNotNull && col("event_type").isNotNull)
      .select(col("event_type"), col("event_id"),
        expr("unix_micros(ts)").as("us")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    for ((t, g) <- ev.groupBy(_._1)) {
      val gaps = g.sortBy(e => (e._3, e._2)).sliding(2).collect {
        case Array(a, b) => b._3 - a._3 }.filter(_ > 0).toSeq
      val n = gaps.length
      if (n >= 2) {
        // DIRECT per-point density sums (not the collapsed form)
        val lam = n.toDouble / gaps.sum
        val llExp = gaps.map(gp => math.log(lam) - lam * gp).sum
        val gmin = gaps.min
        val dd = gaps.map(gp => math.log(gp.toDouble)).sum -
          n * math.log(gmin.toDouble)
        val (gn, ggmin, gle, glp, gheavy) = got(t)
        assert(gn === n.toLong && ggmin === gmin, s"$t shape")
        assert(math.abs(gle - llExp) < 1e-3 * (1 + llExp.abs),
          s"$t exp LL: direct vs collapsed")
        if (dd > 0) {
          val alpha = n / dd
          val llPar = gaps.map(gp => math.log(alpha)
            + alpha * math.log(gmin.toDouble)
            - (alpha + 1) * math.log(gp.toDouble)).sum
          assert(math.abs(glp.get - llPar) < 1e-3 * (1 + llPar.abs),
            s"$t par LL: direct vs collapsed")
          assert(gheavy.get === (llExp - llPar < 0), s"$t verdict")
        } else assert(glp.isEmpty && gheavy.isEmpty)
      } else assert(!got.contains(t))
    }
  }

  test("q279 turning points replays from a direct Scala shape walk; " +
      "T is bounded by n-2") {
    val got = Stats.q279TurningPoints.fn(spark, sf).collect().map { r =>
      r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(4),
        r.getString(5) == "non_random"))
    }.toMap
    val raw = Tables.events(spark, sf)
      .filter(col("ts").isNotNull && col("event_type").isNotNull)
      .select(col("event_type"), expr("unix_micros(ts) div 3600000000"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    for ((t, g) <- raw.groupBy(_._1)) {
      val hrs = g.map(_._2)
      val cnt = hrs.groupBy(identity).map { case (h, v) => h -> v.length }
      val xs = (hrs.min to hrs.max).map(h => cnt.getOrElse(h, 0).toLong)
        .toArray
      val n = xs.length
      if (n >= 3) {
        val tp = (1 until n - 1).count(i =>
          (xs(i) - xs(i - 1)) * (xs(i) - xs(i + 1)) > 0).toLong
        val z2 = 10.0 * (3 * tp - 2 * (n - 2)) * (3 * tp - 2 * (n - 2)) /
          (16.0 * n - 29)
        val (gn, gtp, gz2, gflag) = got(t)
        assert(gn === n.toLong && gtp === tp, s"$t counts")
        assert(tp <= n - 2, s"$t T bound")
        assert(math.abs(gz2 - z2) < 1e-4 * (1 + z2), s"$t z2")
        assert(gflag === (z2 > 3.8415), s"$t verdict")
      } else assert(!got.contains(t))
    }
  }

  test("q280 Bartels RVN replays from direct rank walks; the rank " +
      "denominator closed form matches the explicit sum") {
    val got = Stats.q280BartelsRvn.fn(spark, sf).collect().map { r =>
      r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3),
        if (r.isNullAt(4)) None else Some(r.getDouble(4))))
    }.toMap
    val raw = Tables.events(spark, sf)
      .filter(col("ts").isNotNull && col("event_type").isNotNull)
      .select(col("event_type"), expr("unix_micros(ts) div 86400000000"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    for ((t, g) <- raw.groupBy(_._1)) {
      val days = g.map(_._2)
      val cnt = days.groupBy(identity).map { case (d, v) =>
        d -> v.length.toLong }
      val series = (days.min to days.max).zipWithIndex.map {
        case (d, i) => (i.toLong, cnt.getOrElse(d, 0L)) }
      val n = series.length
      if (n >= 2) {
        // ranks under (count, t): a permutation of 1..n
        val ranks = series.sortBy { case (i, c) => (c, i) }.zipWithIndex
          .map { case ((i, _), r0) => (i, r0 + 1L) }
          .sortBy(_._1).map(_._2)
        val sd2 = ranks.sliding(2).collect { case Seq(a, b) =>
          (a - b) * (a - b) }.sum
        // the closed-form denominator equals the explicit Σ(R − R̄)²
        val rbar = ranks.sum.toDouble / n
        val explicitDen = ranks.map(r => (r - rbar) * (r - rbar)).sum
        assert(math.abs(explicitDen - n.toLong * (n.toLong * n - 1) / 12.0)
          < 1e-6 * (1 + explicitDen), s"$t permutation denominator")
        val rvn = 12.0 * sd2 / (n.toDouble * (n.toDouble * n - 1))
        val (gn, gsd2, grvn, gz2) = got(t)
        assert(gn === n.toLong && gsd2 === sd2, s"$t rank diffs")
        assert(math.abs(grvn - rvn) < 1e-5 * (1 + rvn), s"$t RVN")
        if (n >= 3) {
          val vr = 4.0 * (n - 2) * (5.0 * n * n - 2 * n - 9) /
            (5.0 * n * (n + 1) * (n - 1.0) * (n - 1))
          val z2 = (rvn - 2) * (rvn - 2) / vr
          assert(math.abs(gz2.get - z2) < 1e-3 * (1 + z2), s"$t z2")
        } else assert(gz2.isEmpty)
      } else assert(!got.contains(t))
    }
  }

  test("q281 Cook's distance replays from a direct per-day influence " +
      "scan; leverages sum to the model dimension p = 2") {
    val got = Stats.q281CooksDistance.fn(spark, sf).collect().map { r =>
      r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4),
        if (r.isNullAt(5)) None else Some(r.getDouble(5))))
    }.toMap
    val raw = Tables.events(spark, sf)
      .filter(col("ts").isNotNull && col("event_type").isNotNull)
      .select(col("event_type"), expr("unix_micros(ts) div 86400000000"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    for ((t, g) <- raw.groupBy(_._1)) {
      val days = g.map(_._2)
      val cnt = days.groupBy(identity).map { case (d, v) =>
        d -> v.length.toLong }
      val d0 = days.min
      val xs = (days.min to days.max).map(d =>
        cnt.getOrElse(d, 0L).toDouble).toArray
      val n = xs.length
      if (n > 2) {
        val ts0 = xs.indices.map(_.toDouble)
        val (st, sx) = (ts0.sum, xs.sum)
        val stt = ts0.map(v => v * v).sum
        val stx = ts0.zip(xs).map { case (a, b) => a * b }.sum
        val den = n * stt - st * st
        val slope = (n * stx - st * sx) / den
        val icept = (sx * stt - st * stx) / den
        val e = xs.indices.map(i => xs(i) - icept - slope * i)
        val sxx = n.toDouble * (n.toDouble * n - 1) / 12
        val hs = xs.indices.map(i =>
          1.0 / n + (i - (n - 1) / 2.0) * (i - (n - 1) / 2.0) / sxx)
        // hat-diagonal identity: Σh = p = 2 for the line fit
        assert(math.abs(hs.sum - 2.0) < 1e-9, s"$t leverage trace")
        val sse = e.map(v => v * v).sum
        if (sse > 0) {
          val s2 = sse / (n - 2)
          val ds = xs.indices.map(i => e(i) * e(i) * hs(i) /
            (2 * s2 * (1 - hs(i)) * (1 - hs(i))))
          val top = xs.indices.minBy(i => (-ds(i), i))
          val (gn, gday, gh, ge, gcd) = got(t)
          assert(gn === n.toLong, s"$t days")
          assert(gday === d0 + top, s"$t top day")
          assert(math.abs(gh - hs(top)) < 1e-5, s"$t leverage")
          assert(math.abs(ge - e(top)) < 1e-3 * (1 + e(top).abs))
          assert(math.abs(gcd.get - ds(top)) < 1e-3 * (1 + ds(top)),
            s"$t Cook's D")
        }
      } else assert(!got.contains(t))
    }
  }

  test("q282 MATTR replays from a Scala sliding-window walk; pooled " +
      "MATTR never exceeds 1 and raw TTR falls below it on repetitive " +
      "text") {
    val got = TextAnalysis.q282Mattr.fn(spark, sf).collect().map { r =>
      r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4)))
    }.toMap
    val docs = Tables.documents(spark, sf)
      .filter(col("text").isNotNull && col("source").isNotNull)
      .select(col("source"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    for ((s0, g) <- docs.groupBy(_._1)) {
      var (nw, sdis) = (0L, 0L)
      var (toks, types) = (0L, 0L)
      for ((_, t) <- g) {
        val tk = t.split(" ", -1).filter(_.nonEmpty)
        toks += tk.length; types += tk.distinct.length
        if (tk.length >= 25)
          for (w <- 0 to tk.length - 25) {
            nw += 1; sdis += tk.slice(w, w + 25).distinct.length
          }
      }
      val (gnd, gnw, gmattr, gttr) = got(s0)
      assert(gnd === g.length.toLong && gnw === nw, s"$s0 shape")
      assert(math.abs(gmattr - sdis.toDouble / (25 * nw)) < 2e-6, s"$s0")
      assert(math.abs(gttr - types.toDouble / toks) < 2e-6, s"$s0 ttr")
      assert(gmattr <= 1.0 && gmattr > 0.0, s"$s0 MATTR range")
      // fixed-window diversity is length-robust; raw TTR is depressed
      // by corpus size — on this template corpus strictly so
      assert(gttr <= gmattr + 1e-9, s"$s0 TTR vs MATTR")
    }
  }

  test("q283 QL retrieval replays from direct per-doc scoring; the " +
      "ranking is the exact top-10 of the full corpus") {
    val got = TextAnalysis.q283QueryLikelihood.fn(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(3)))
    val docs = Tables.documents(spark, sf)
      .filter(col("text").isNotNull && col("source").isNotNull)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val toks = docs.map { case (id, t) =>
      (id, t.split(" ", -1).filter(_.nonEmpty)) }
    val ctot = toks.map(_._2.length.toLong).sum
    val q = Seq("data", "spark", "query")
    val cf = q.map(w => w -> toks.map(_._2.count(_ == w).toLong).sum).toMap
    val scored = toks.map { case (id, tk) =>
      val len = tk.length
      val sc = q.map { w =>
        val tf = tk.count(_ == w)
        math.log((tf + 300.0 * (cf(w).toDouble / ctot)) / (len + 300.0))
          .toFloat.toDouble
      }.sum
      (id, sc)
    }
    val top = scored.sortBy { case (id, sc) => (-sc, id) }.take(10)
    assert(got.length === 10)
    for (((gid, _, gsc), (eid, esc)) <- got.map(g => (g._2, g._1, g._3))
        .zip(top)) {
      assert(gid === eid, s"rank order: $gid vs $eid")
      assert(math.abs(gsc - esc) < 1e-4 * (1 + esc.abs))
    }
  }

  test("q284 vocab overlap replays from Scala set algebra; jaccard <= " +
      "containment and the pair count is k choose 2") {
    val got = TextAnalysis.q284VocabOverlap.fn(spark, sf).collect()
      .map { r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5),
          r.getDouble(6))) }.toMap
    val docs = Tables.documents(spark, sf)
      .filter(col("text").isNotNull && col("source").isNotNull)
      .select(col("source"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val vocab = docs.groupBy(_._1).map { case (s0, g) =>
      s0 -> g.flatMap(_._2.split(" ", -1).filter(_.nonEmpty)).toSet }
    val srcs = vocab.keys.toSeq.sorted
    assert(got.size === srcs.length * (srcs.length - 1) / 2,
      "pair count is k choose 2")
    for (i <- srcs.indices; j <- i + 1 until srcs.length) {
      val (a, b) = (srcs(i), srcs(j))
      val (va, vb) = (vocab(a), vocab(b))
      val inter = (va & vb).size.toLong
      val (gv1, gv2, gi, gj, gc) = got((a, b))
      assert(gv1 === va.size.toLong && gv2 === vb.size.toLong
        && gi === inter, s"$a/$b sizes")
      assert(math.abs(gj - inter.toDouble / (va ++ vb).size) < 2e-6)
      assert(math.abs(gc - inter.toDouble / math.min(va.size, vb.size))
        < 2e-6)
      assert(gj <= gc + 1e-9, s"$a/$b jaccard bounded by containment")
    }
  }

  test("q285 double-fire replays from a Scala gap walk; the worst user " +
      "is the (dups DESC, user_id) argmax") {
    val got = Analytic.q285DoubleFire.fn(spark, sf).collect().map { r =>
      r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getLong(4), r.getLong(5)))
    }.toMap
    val ev = Tables.events(spark, sf)
      .filter(col("ts").isNotNull && col("user_id").isNotNull
        && col("event_type").isNotNull)
      .select(col("user_id"), col("event_type"), col("event_id"),
        expr("unix_micros(ts)").as("us")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    for ((t, g) <- ev.groupBy(_._2)) {
      val perUser = g.groupBy(_._1).map { case (u, evs) =>
        val sortedE = evs.sortBy(e => (e._4, e._3)).toSeq
        val dups = sortedE.sliding(2).count {
          case Seq(a, b) => b._4 - a._4 <= 1000000L
          case _ => false
        }
        (u, evs.length.toLong, dups.toLong)
      }.toSeq
      val n = perUser.map(_._2).sum
      val dups = perUser.map(_._3).sum
      val (wu, _, wd) = perUser.minBy { case (u, _, dd) => (-dd, u) }
      val (gn, gd, gr, gwu, gwd) = got(t)
      assert(gn === n && gd === dups, s"$t totals")
      assert(math.abs(gr - dups.toDouble / n) < 2e-6, s"$t rate")
      assert(gwu === wu && gwd === wd, s"$t worst user")
    }
  }

  test("q286 cohort LTV replays from a Scala ledger; the curve is " +
      "non-decreasing and the last coordinates sum to total revenue") {
    val got = Analytic.q286CohortLtv.fn(spark, sf).collect().map { r =>
      (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5)))
    }.toMap
    val ev = Tables.events(spark, sf)
      .filter(col("ts").isNotNull && col("user_id").isNotNull)
      .select(col("user_id"), expr("unix_micros(ts) div 86400000000"),
        col("value")).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) 0L else math.round(100 * r.getDouble(2))))
    val d0 = ev.map(_._2).min
    val wk = ev.map { case (u, d, c) => (u, (d - d0) / 7, c) }
    val cohort = wk.groupBy(_._1).map { case (u, g) =>
      u -> g.map(_._2).min }
    val wmax = wk.map(_._2).max
    val sizes = cohort.values.groupBy(identity).map { case (c, g) =>
      c -> g.size.toLong }
    for ((c, users) <- sizes) {
      var cum = 0L
      for (age <- 0L to (wmax - c)) {
        val cents = wk.filter(e => cohort(e._1) == c
          && e._2 - c == age).map(_._3).sum
        cum += cents
        val (gu, grev, gcum, gltv) = got((c, age))
        assert(gu === users, s"cohort $c size")
        assert(math.abs(grev - cents / 100.0) < 1e-6, s"$c/$age rev")
        assert(math.abs(gcum - cum / 100.0) < 1e-6, s"$c/$age cum")
        assert(math.abs(gltv - cum / 100.0 / users) < 1e-4)
      }
    }
    // the final coordinate of every cohort sums to the corpus revenue
    val lastSum = sizes.keys.map(c => got((c, wmax - c))._3).sum
    val total = ev.map(_._3).sum / 100.0
    assert(math.abs(lastSum - total) < 1e-4 * (1 + total),
      "cohort curves partition total revenue")
  }

  test("q287 Simpson audit replays from pure integer sign algebra") {
    val got = Analytic.q287SimpsonAudit.fn(spark, sf).collect().map { r =>
      r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getInt(4), if (r.isNullAt(5)) None else Some(r.getString(5))))
    }.toMap
    val ev = Tables.events(spark, sf)
      .filter(col("ts").isNotNull && col("user_id").isNotNull
        && col("value").isNotNull && col("event_type").isNotNull)
      .select(col("event_type"), expr("unix_micros(ts) div 86400000000"),
        col("user_id"), expr("CAST(round(100 * value) AS BIGINT)"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    def arm(u: Long): Long = {
      val hb = java.security.MessageDigest.getInstance("MD5")
        .digest(s"ab|$u".getBytes("UTF-8"))
      java.lang.Long.parseLong(f"${hb(0) & 0xff}%02x".take(1), 16) % 2
    }
    for ((t, g) <- ev.groupBy(_._1)) {
      var (dPos, dNeg) = (0L, 0L)
      var (tnt, tsct, tnc, tscc) = (0L, 0L, 0L, 0L)
      for ((_, dg) <- g.groupBy(_._2)) {
        val tr = dg.filter(e => arm(e._3) == 1L)
        val ct = dg.filter(e => arm(e._3) == 0L)
        val (nt, sct) = (tr.length.toLong, tr.map(_._4).sum)
        val (nc, scc) = (ct.length.toLong, ct.map(_._4).sum)
        tnt += nt; tsct += sct; tnc += nc; tscc += scc
        if (nt > 0 && nc > 0) {
          val sgn = sct * nc - scc * nt
          if (sgn > 0) dPos += 1 else if (sgn < 0) dNeg += 1
        }
      }
      val o = tsct * tnc - tscc * tnt
      val (gn, gp, gng, gsign, gv) = got(t)
      assert(gn === g.map(_._2).distinct.length.toLong, s"$t days")
      assert(gp === dPos && gng === dNeg, s"$t day signs")
      assert(gsign === (if (o > 0) 1 else if (o < 0) -1 else 0))
      if (tnt == 0 || tnc == 0 || o == 0 || dPos == dNeg)
        assert(gv.isEmpty, s"$t verdict NULL")
      else assert(gv.get ===
        (if ((o > 0) != (dPos > dNeg)) "reversal" else "consistent"))
    }
  }

  test("q288 NB fit replays from direct moments; the fitted model " +
      "reproduces the observed mean and variance exactly (MoM identity)") {
    val got = Stats.q288NegBinomialFit.fn(spark, sf).collect().map { r =>
      r.getString(0) -> ((r.getLong(1), r.getDouble(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)),
        if (r.isNullAt(4)) None else Some(r.getDouble(4))))
    }.toMap
    val raw = Tables.events(spark, sf)
      .filter(col("ts").isNotNull && col("event_type").isNotNull)
      .select(col("event_type"), expr("unix_micros(ts) div 86400000000"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    for ((t, g) <- raw.groupBy(_._1)) {
      val days = g.map(_._2)
      val cnt = days.groupBy(identity).map { case (d, v) => d -> v.length }
      val xs = (days.min to days.max).map(d =>
        cnt.getOrElse(d, 0).toDouble)
      val n = xs.length
      if (n > 1) {
        val mu = xs.sum / n
        val s2 = xs.map(v => (v - mu) * (v - mu)).sum / (n - 1)
        val (gn, gmu, gk, gp) = got(t)
        assert(gn === n.toLong, s"$t days")
        assert(math.abs(gmu - mu) < 2e-6 * (1 + mu))
        if (s2 > mu) {
          val k = mu * mu / (s2 - mu)
          assert(math.abs(gk.get - k) < 1e-3 * (1 + k), s"$t k")
          assert(math.abs(gp.get - k / (k + mu)) < 1e-4, s"$t p")
          // method-of-moments identity: NB(k, p) has mean k(1-p)/p and
          // variance mean/p — both must reproduce the sample moments
          val fitMean = k * (1 - k / (k + mu)) / (k / (k + mu))
          assert(math.abs(fitMean - mu) < 1e-6 * (1 + mu), s"$t mean id")
          assert(math.abs(fitMean / (k / (k + mu)) - s2) <
            1e-6 * (1 + s2), s"$t var id")
        } else assert(gk.isEmpty && gp.isEmpty)
      }
    }
  }

  test("q289 order-2 entropy replays from Scala trigram tables; " +
      "conditioning on more history never increases entropy") {
    val got = Stats.q289Order2Entropy.fn(spark, sf).collect().map { r =>
      (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5), r.getDouble(6)))
    }.toMap
    val ev = Tables.events(spark, sf)
      .filter(col("user_id").isNotNull && col("event_type").isNotNull)
      .select(col("user_id"), col("event_type"), col("event_id"),
        expr("unix_micros(ts)").as("us")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val tris = ev.groupBy(_._1).toSeq.flatMap { case (_, g) =>
      val seq0 = g.sortBy(e => (e._4, e._3)).map(_._2).toSeq
      seq0.sliding(3).collect { case Seq(a, b, c) => (a, b, c) }
    }
    val n = tris.length.toDouble
    val t3 = tris.groupBy(identity).map { case (k, v) => k -> v.length }
    val pre2 = tris.groupBy(tr => (tr._1, tr._2)).map { case (k, v) =>
      k -> v.length }
    val t2 = tris.groupBy(tr => (tr._2, tr._3)).map { case (k, v) =>
      k -> v.length }
    val pre1 = tris.groupBy(_._2).map { case (k, v) => k -> v.length }
    val h2 = t3.map { case ((a, b, c), cc) =>
      val rn = pre2((a, b))
      cc.toDouble / n * math.log(rn.toDouble / cc).toFloat
    }.sum
    val h1 = t2.map { case ((b, c), cc) =>
      val rn = pre1(b)
      cc.toDouble / n * math.log(rn.toDouble / cc).toFloat
    }.sum
    assert(h1 >= h2 - 1e-9, "conditioning cannot increase entropy")
    for (((a, b), rn) <- pre2) {
      val (grn, _, gh1, gh2, ggain) = got((a, b))
      assert(grn === rn.toLong, s"($a,$b) prefix count")
      assert(math.abs(gh1 - h1) < 1e-4, s"h1")
      assert(math.abs(gh2 - h2) < 1e-4, s"h2")
      assert(math.abs(ggain - (h1 - h2)) < 1e-4, s"gain")
      assert(ggain >= -1e-6, "engine-side gain non-negative")
    }
  }

  test("q290 seasonal MK replays from Scala hod-sliced pair walks; a " +
      "pure diurnal cycle contributes zero signal") {
    val got = Stats.q290SeasonalMannKendall.fn(spark, sf).collect()
      .map { r => r.getString(0) -> ((r.getLong(1), r.getDouble(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)))) }.toMap
    val raw = Tables.events(spark, sf)
      .filter(col("ts").isNotNull && col("event_type").isNotNull)
      .select(col("event_type"), expr("unix_micros(ts) div 3600000000"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    for ((t, g) <- raw.groupBy(_._1)) {
      val hrs = g.map(_._2)
      val cnt = hrs.groupBy(identity).map { case (h, v) => h -> v.length }
      val cells = (hrs.min to hrs.max).map(m =>
        (m % 24, m / 24, cnt.getOrElse(m, 0).toLong))
      var s = 0L; var varS = 0.0
      for ((_, grp) <- cells.groupBy(_._1)) {
        val ser = grp.sortBy(_._2).map(_._3)
        for (i <- ser.indices; j <- i + 1 until ser.length)
          s += java.lang.Long.signum(ser(j) - ser(i))
        val nh = ser.length.toLong
        varS += nh * (nh - 1) * (2 * nh + 5) / 18.0
      }
      val (gs, gvar, gz2) = got(t)
      assert(gs === s, s"$t S")
      assert(math.abs(gvar - varS) < 1e-4 * (1 + varS), s"$t Var")
      if (varS > 0)
        assert(math.abs(gz2.get - s.toDouble * s / varS) < 1e-4, s"$t z2")
      else assert(gz2.isEmpty)
    }
    // synthetic diurnal cycle: identical days → every hod slice is
    // constant → S = 0 exactly (the test's defining property)
    val d = "/tmp/graft_seasonal_mk_cycle"
    import spark.implicits._
    val rows = for { day <- 0 until 3; h <- 0 until 24
      i <- 0 until (1 + (h % 3)) } yield
      ((day * 1000 + h * 10 + i).toLong,
        (day * 86400L + h * 3600L) * 1000000000L + i * 1000000L,
        1L, "cyc", 1.0, "{}")
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/events.parquet")
    val cyc = SparkEntry.queries("q290_seasonal_mann_kendall")(spark, d)
      .collect()
    assert(cyc.length === 1 && cyc.head.getLong(1) === 0L,
      "a pure diurnal cycle must carry zero seasonal-MK signal")
    assert(!cyc.head.getBoolean(4), "no trend flag on a cycle")
  }

  test("q291 vocab churn replays from Scala set algebra; birth/death " +
      "identities and the survivor bound hold") {
    val got = TextAnalysis.q291VocabChurn.fn(spark, sf).collect()
    assert(got.length === 1)
    val r = got.head
    val docs = Tables.documents(spark, sf)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("text")).collect()
      .map(x => (x.getLong(0), x.getString(1)))
    val mid = (docs.map(_._1).min + docs.map(_._1).max) / 2
    def vocab(p: ((Long, String)) => Boolean): Set[String] =
      docs.filter(p).flatMap(_._2.split(" ", -1).filter(_.nonEmpty)).toSet
    val v0 = vocab(_._1 <= mid); val v1 = vocab(_._1 > mid)
    val surv = (v0 & v1).size.toLong
    assert(r.getLong(0) === v0.size.toLong && r.getLong(1) === v1.size)
    assert(r.getLong(2) === surv)
    assert(r.getLong(3) === v1.size - surv, "born identity")
    assert(r.getLong(4) === v0.size - surv, "died identity")
    assert(math.abs(r.getDouble(7) -
      surv.toDouble / (v0 ++ v1).size) < 2e-6, "jaccard")
  }

  test("q292 HHI replays from direct share squares; the 1/n floor and " +
      "peak-share lower bound hold") {
    val got = Stats.q292VolumeHhi.fn(spark, sf).collect().map { r =>
      r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3),
        if (r.isNullAt(4)) None else Some(r.getDouble(4)),
        r.getDouble(5)))
    }.toMap
    val raw = Tables.events(spark, sf)
      .filter(col("ts").isNotNull && col("event_type").isNotNull)
      .select(col("event_type"), expr("unix_micros(ts) div 86400000000"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    for ((t, g) <- raw.groupBy(_._1)) {
      val days = g.map(_._2)
      val cnt = days.groupBy(identity).map { case (d, v) => d -> v.length }
      val xs = (days.min to days.max).map(d =>
        cnt.getOrElse(d, 0).toLong)
      val n = xs.length; val s = xs.sum
      val hhi = xs.map(c => (c.toDouble / s) * (c.toDouble / s)).sum
      val (gn, gs, ghhi, gnorm, gpeak) = got(t)
      assert(gn === n.toLong && gs === s, s"$t shape")
      assert(math.abs(ghhi - hhi) < 1e-5 * (1 + hhi), s"$t HHI")
      assert(ghhi >= 1.0 / n - 1e-9, s"$t HHI floor (Cauchy-Schwarz)")
      assert(ghhi >= gpeak * gpeak - 1e-6, s"$t peak lower bound")
      if (n > 1)
        assert(math.abs(gnorm.get - (hhi - 1.0 / n) / (1 - 1.0 / n))
          < 1e-4, s"$t normalized")
    }
  }

  test("q293 mix shift replays from a direct contingency walk; a " +
      "uniform composition scores chi2 near the cell noise floor") {
    val got = Stats.q293PriorityMixShift.fn(spark, sf).collect()
      .map { r => (r.getLong(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5)))
      }.toMap
    val o = Tables.orders(spark, sf)
      .filter(col("o_orderdate").isNotNull
        && col("o_orderpriority").isNotNull)
      .select(expr("""(unix_micros(CAST(o_orderdate AS TIMESTAMP))
        |  div 86400000000) div 30""".stripMargin), col("o_orderpriority"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val cells = o.groupBy(identity).map { case (k, v) =>
      k -> v.length.toLong }
    val rows = o.groupBy(_._1).map { case (k, v) => k -> v.length.toLong }
    val cols = o.groupBy(_._2).map { case (k, v) => k -> v.length.toLong }
    val nn = o.length.toLong
    val chi2 = cells.map { case ((mo, pr), obs) =>
      val e = rows(mo).toDouble * cols(pr) / nn
      (obs - e) * (obs - e) / e
    }.sum
    val v = math.sqrt(chi2 / (nn *
      math.min(rows.size - 1, cols.size - 1)))
    for (((mo, pr), obs) <- cells) {
      val (gobs, gshare, gchi, gv) = got((mo, pr))
      assert(gobs === obs, s"($mo,$pr) cell")
      assert(math.abs(gshare - obs.toDouble / rows(mo)) < 1e-5)
      assert(math.abs(gchi - chi2) < 1e-3 * (1 + chi2), s"chi2")
      assert(math.abs(gv - v) < 1e-4, s"V")
    }
    assert(got.size === cells.size, "cell coverage")
  }

  test("q294 Yule's K replays from a Scala frequency-spectrum walk; a " +
      "source of all-distinct tokens reads K = 0") {
    val got = TextAnalysis.q294YuleK.fn(spark, sf).collect().map { r =>
      r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3),
        if (r.isNullAt(4)) Double.NaN else r.getDouble(4)))
    }.toMap
    val docs = Tables.documents(spark, sf)
      .filter(col("text").isNotNull && col("source").isNotNull)
      .select(col("source"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    for ((src, g) <- docs.groupBy(_._1)) {
      val tf = g.flatMap(_._2.split(" ").filter(_.nonEmpty))
        .groupBy(identity).map { case (_, v) => v.length.toLong }
      val n = tf.sum
      val s2 = tf.map(f => f * f).sum
      val k = (s2 - n).toDouble * 10000.0 / n / n
      val rr = (s2 - n).toDouble / n / (n - 1)
      val (gv, gn, gk, grr) = got(src)
      assert(gv === tf.size.toLong && gn === n, s"$src counts")
      assert(math.abs(gk - k) < 1e-4 * (1 + k), s"$src K")
      if (n > 1) assert(math.abs(grr - rr) < 1e-6, s"$src R")
      assert(gk >= 0, s"$src K is a repeat mass — never negative")
    }
    assert(got.keySet === docs.groupBy(_._1).keySet)
  }

  test("q295 token burstiness replays from a Scala per-doc count walk; " +
      "the Fano order and top-20 cut match") {
    val got = TextAnalysis.q295TokenBurstiness.fn(spark, sf).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    val docs = Tables.documents(spark, sf)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val dd = docs.length.toLong
    val perDoc = docs.flatMap { case (id, t) =>
      t.split(" ").filter(_.nonEmpty).groupBy(identity)
        .map { case (w, v) => (w, id, v.length.toLong) }
    }
    val expect = perDoc.groupBy(_._1).toSeq.flatMap { case (w, g) =>
      val tf = g.map(_._3).sum
      val s2 = g.map(c => c._3 * c._3).sum
      if (tf >= 30 && dd > 1)
        Some((w, tf, g.length.toLong,
          (dd * s2 - tf * tf).toDouble / ((dd - 1) * tf)))
      else None
    }.sortBy { case (w, _, _, f) => (-f, w) }.take(20)
    assert(got.length === expect.length && got.nonEmpty)
    for (((w, tf, dw, f), i) <- expect.zipWithIndex) {
      val (grk, gw, gtf, gdw, gf) = got(i)
      assert(grk === i + 1 && gw === w, s"rank ${i + 1} token")
      assert(gtf === tf && gdw === dw, s"$w counts")
      assert(math.abs(gf - f) < 1e-4 * (1 + f), s"$w fano")
    }
  }

  test("q296 gap burstiness replays from a Scala gap-moment walk; B and " +
      "CV agree and B stays in [-1, 1)") {
    val got = Stats.q296GapBurstiness.fn(spark, sf).collect().map { r =>
      r.getString(0) -> ((r.getLong(1), r.getDouble(2),
        if (r.isNullAt(5)) Double.NaN else r.getDouble(5)))
    }.toMap
    val ev = Tables.events(spark, sf)
      .filter(col("ts").isNotNull && col("event_type").isNotNull)
      .select(col("event_type"), col("event_id"),
        expr("unix_micros(ts)").as("us")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    for ((t, g) <- ev.groupBy(_._1)) {
      val gaps = g.sortBy(e => (e._3, e._2)).sliding(2).collect {
        case Array(a, b) => java.lang.Math.floorDiv(b._3 - a._3, 1000000L)
      }.toSeq
      if (gaps.nonEmpty) {
        val m = gaps.length.toLong
        val s = gaps.sum; val q = gaps.map(x => x * x).sum
        val r0 = math.sqrt((m * q - s * s).toDouble)
        val (gm, gmean, gb) = got(t)
        assert(gm === m, s"$t gap count")
        assert(math.abs(gmean - s.toDouble / m) < 1e-5, s"$t mean")
        if (r0 + s > 0) {
          val b = (r0 - s) / (r0 + s)
          assert(math.abs(gb - b) < 1e-5, s"$t B")
          assert(gb >= -1.0 && gb < 1.0, s"$t B range")
        } else assert(gb.isNaN, s"$t all-zero gaps must NULL B")
      } else assert(!got.contains(t))
    }
  }

  test("q297 odds ratio replays from a Scala 2x2 walk; the Woolf " +
      "interval brackets the point estimate") {
    val r = Stats.q297OddsRatio.fn(spark, sf).collect().head
    val users = Tables.events(spark, sf)
      .filter(col("user_id").isNotNull)
      .groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "purchase", 1).otherwise(0))
        .as("p")).collect().map(x => (x.getLong(0), x.getInt(1)))
    def arm(u: Long): Long = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"ab|$u".getBytes("UTF-8"))
      java.lang.Long.parseLong(f"${h(0) & 0xff}%02x".take(1), 16) % 2
    }
    val a = users.count(u => arm(u._1) == 1 && u._2 == 1).toLong
    val b = users.count(u => arm(u._1) == 1 && u._2 == 0).toLong
    val c = users.count(u => arm(u._1) == 0 && u._2 == 1).toLong
    val dd = users.count(u => arm(u._1) == 0 && u._2 == 0).toLong
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ===
      ((a, b, c, dd)), "2x2 cells")
    if (a > 0 && b > 0 && c > 0 && dd > 0) {
      val or = a.toDouble * dd / (b.toDouble * c)
      val se = math.sqrt(1.0 / a + 1.0 / b + 1.0 / c + 1.0 / dd)
      assert(math.abs(r.getDouble(4) - or) < 1e-4 * (1 + or), "OR")
      assert(math.abs(r.getDouble(5) - math.exp(math.log(or) - 1.96 * se))
        < 1e-3, "CI lo")
      assert(r.getDouble(5) < r.getDouble(4)
        && r.getDouble(4) < r.getDouble(6), "CI brackets the estimate")
      val signif = r.getDouble(5) > 1 || r.getDouble(6) < 1
      assert(r.getString(7) ===
        (if (signif) "detectable" else "null_compatible"))
    } else assert(r.isNullAt(4) && r.isNullAt(7))
  }

  test("q298 McNemar replays from a Scala paired-halves walk; the four " +
      "states partition the users") {
    val r = Stats.q298McNemar.fn(spark, sf).collect().head
    val ev = Tables.events(spark, sf)
      .filter(col("ts").isNotNull && col("user_id").isNotNull)
      .select(col("user_id"), col("event_type"),
        expr("unix_micros(ts)").as("us")).collect()
      .map(x => (x.getLong(0), x.getString(1), x.getLong(2)))
    val mid = Math.floorDiv(ev.map(_._3).min + ev.map(_._3).max, 2L)
    val perUser = ev.groupBy(_._1).toSeq.map { case (_, g) =>
      (g.exists(e => e._2 == "purchase" && e._3 <= mid),
        g.exists(e => e._2 == "purchase" && e._3 > mid))
    }
    val b = perUser.count(p => p._1 && !p._2).toLong
    val c = perUser.count(p => !p._1 && p._2).toLong
    assert(r.getLong(0) === perUser.length.toLong, "n partitions")
    assert(r.getLong(0) === r.getLong(1) + r.getLong(2) + r.getLong(3)
      + r.getLong(4), "states partition users")
    assert(r.getLong(2) === b && r.getLong(3) === c, "discordant cells")
    if (b + c > 0) {
      val chi = (b - c).toDouble * (b - c) / (b + c)
      assert(math.abs(r.getDouble(5) - chi) < 1e-5, "chi2")
      assert(r.getString(6) === (if (chi > 3.8415) "shifted" else "stable"))
    } else assert(r.isNullAt(5) && r.isNullAt(6))
  }

  test("q299 dow seasonality replays from a Scala dense-grid ANOVA; " +
      "eta2 stays in [0, 1]") {
    val got = Stats.q299DowSeasonality.fn(spark, sf).collect().map { r =>
      r.getString(0) -> ((r.getLong(1),
        if (r.isNullAt(2)) Double.NaN else r.getDouble(2), r.getInt(3)))
    }.toMap
    val raw = Tables.events(spark, sf)
      .filter(col("ts").isNotNull && col("event_type").isNotNull)
      .select(col("event_type"), expr("unix_micros(ts) div 86400000000"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    for ((t, g) <- raw.groupBy(_._1)) {
      val cnt = g.map(_._2).groupBy(identity)
        .map { case (d, v) => d -> v.length.toLong }
      val series = (g.map(_._2).min to g.map(_._2).max)
        .map(d => (d % 7, cnt.getOrElse(d, 0L)))
      val n = series.length
      val s = series.map(_._2).sum
      val q = series.map(x => x._2 * x._2).sum
      val sst = q.toDouble - s.toDouble * s / n
      val byDow = series.groupBy(_._1)
      val ssb = byDow.values.map { v =>
        val sd = v.map(_._2).sum
        sd.toDouble * sd / v.length
      }.sum - s.toDouble * s / n
      val (gn, geta, gpk) = got(t)
      assert(gn === n.toLong, s"$t days")
      if (sst > 0) {
        assert(math.abs(geta - ssb / sst) < 1e-4, s"$t eta2")
        assert(geta >= -1e-9 && geta <= 1 + 1e-9, s"$t eta2 range")
        val peak = byDow.map { case (dw, v) =>
          (dw, v.map(_._2).sum.toDouble / v.length) }
          .toSeq.sortBy { case (dw, m) => (-m, dw) }.head._1
        assert(gpk.toLong === peak, s"$t peak dow")
      } else assert(geta.isNaN, s"$t constant grid must NULL eta2")
    }
    assert(got.keySet === raw.groupBy(_._1).keySet)
  }

  test("q301 Cronbach's alpha replays from a Scala item-moment walk; " +
      "alpha never exceeds 1") {
    val r = Stats.q301CronbachAlpha.fn(spark, sf).collect().head
    val ut = Tables.events(spark, sf)
      .filter(col("user_id").isNotNull && col("event_type").isNotNull)
      .select(col("user_id"), col("event_type")).collect()
      .map(x => (x.getLong(0), x.getString(1)))
      .groupBy(identity).map { case ((u, t), v) =>
        (u, t, v.length.toLong) }.toSeq
    val n = ut.map(_._1).distinct.length.toLong
    val k = ut.map(_._2).distinct.length.toLong
    val sxx = ut.map(e => e._3 * e._3).sum
    val ss2 = ut.groupBy(_._2).values
      .map(g => { val s = g.map(_._3).sum; s * s }).sum
    val totals = ut.groupBy(_._1).values.map(_.map(_._3).sum).toSeq
    val st = totals.sum; val stt = totals.map(t => t * t).sum
    assert(r.getLong(0) === k && r.getLong(1) === n)
    val sst = n * stt - st * st
    if (k > 1 && sst > 0) {
      val alpha = k.toDouble / (k - 1) *
        (1.0 - (n * sxx - ss2).toDouble / sst)
      assert(math.abs(r.getDouble(2) - alpha) < 1e-5, "alpha")
      assert(r.getDouble(2) <= 1.0 + 1e-9, "alpha <= 1 always")
    } else assert(r.isNullAt(2))
  }

  test("q302 Kendall's W replays from a Scala dense-grid permutation " +
      "walk; W in [0, 1] and the Friedman chi2 identity holds") {
    val r = Stats.q302KendallW.fn(spark, sf).collect().head
    val raw = Tables.events(spark, sf)
      .filter(col("ts").isNotNull && col("event_type").isNotNull)
      .select(col("event_type"), expr("unix_micros(ts) div 86400000000"))
      .collect().map(x => (x.getString(0), x.getLong(1)))
    val types = raw.map(_._1).distinct.sorted
    val k = types.length.toLong
    val (d0, d1) = (raw.map(_._2).min, raw.map(_._2).max)
    val cnt = raw.groupBy(identity).map { case (key, v) =>
      key -> v.length.toLong }
    val rj = scala.collection.mutable.Map(types.map(_ -> 0L): _*)
    for (day <- d0 to d1) {
      val ranked = types.map(t => (t, cnt.getOrElse((t, day), 0L)))
        .sortBy { case (t, c) => (-c, t) }
      for ((t, rank0) <- ranked.map(_._1).zipWithIndex)
        rj(t) += rank0 + 1L
    }
    val m = d1 - d0 + 1
    val sr2 = rj.values.map(x => x * x).sum
    val w = (12 * sr2 - 3 * m * m * k * (k + 1) * (k + 1)).toDouble /
      (m * m * k * (k * k - 1))
    assert(r.getLong(0) === k && r.getLong(1) === m)
    assert(math.abs(r.getDouble(2) - w) < 1e-6, "W")
    assert(r.getDouble(2) >= -1e-9 && r.getDouble(2) <= 1 + 1e-9,
      "W in [0, 1] on full permutations")
    assert(math.abs(r.getDouble(3) - m * (k - 1) * w) < 1e-3,
      "Friedman identity chi2 = m(k-1)W")
  }

  test("q303 Theil replays from a Scala participant walk; T in " +
      "[0, ln n]") {
    val got = Stats.q303TheilIndex.fn(spark, sf).collect().map { r =>
      r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3),
        if (r.isNullAt(4)) Double.NaN else r.getDouble(4)))
    }.toMap
    val raw = Tables.events(spark, sf)
      .filter(col("user_id").isNotNull && col("event_type").isNotNull)
      .select(col("event_type"), col("user_id")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    for ((t, g) <- raw.groupBy(_._1)) {
      val xs = g.groupBy(_._2).values.map(_.length.toLong).toSeq
      val n = xs.length.toLong; val s = xs.sum
      val theil = xs.map(x =>
        x * math.log(x.toDouble * n / s)).sum / s
      val (gn, gs, gt, gr) = got(t)
      assert(gn === n && gs === s, s"$t counts")
      assert(math.abs(gt - theil) < 1e-4 * (1 + theil), s"$t T")
      assert(gt >= -1e-6 && gt <= math.log(n.toDouble) + 1e-6,
        s"$t T in [0, ln n]")
      if (n > 1) assert(math.abs(gr - theil / math.log(n.toDouble))
        < 1e-4, s"$t ratio")
    }
    assert(got.keySet === raw.groupBy(_._1).keySet)
  }

  test("q304 customer concentration replays from a Scala sorted walk; " +
      "the two-level DESC rank matches the flat sort") {
    val r = Stats.q304CustomerConcentration.fn(spark, sf).collect().head
    val rev = Tables.orders(spark, sf)
      .filter(col("o_totalprice").isNotNull)
      .select(col("o_custkey"), col("o_totalprice")).collect()
      .map(x => (x.getLong(0), math.round(x.getDouble(1))))
      .groupBy(_._1).toSeq.map { case (ck, g) => (ck, g.map(_._2).sum) }
    val n = rev.length.toLong; val s = rev.map(_._2).sum
    val k = (n + 9) / 10
    val top = rev.sortBy { case (ck, v) => (-v, ck) }.take(k.toInt)
      .map(_._2).sum
    val hhi = rev.map { case (_, v) =>
      10000.0 * (v.toDouble / s) * (v.toDouble / s) }.sum
    assert(r.getLong(0) === n && r.getLong(1) === s)
    assert(math.abs(r.getDouble(2) - hhi) < 1e-3 * (1 + hhi), "HHI")
    assert(math.abs(r.getDouble(3) - top.toDouble / s) < 1e-5,
      "top decile share")
    assert(r.getDouble(3) >= 0.1 - 1e-9, "top decile carries >= 1/10")
  }

  test("q306 order dispersion replays from a Scala per-order walk with " +
      "zero-filled empty orders") {
    val r = Stats.q306OrderDispersion.fn(spark, sf).collect().head
    val li = Tables.lineitem(spark, sf).select(col("l_orderkey"))
      .collect().map(_.getLong(0))
      .groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    val orders = Tables.orders(spark, sf).select(col("o_orderkey"))
      .collect().map(_.getLong(0))
    val counts = orders.map(ok => li.getOrElse(ok, 0L))
    val n = counts.length.toLong
    val s = counts.sum; val q = counts.map(c => c * c).sum
    val d = (n * q - s * s).toDouble / ((n - 1) * s)
    assert(r.getLong(0) === n && r.getLong(1) === s)
    assert(r.getLong(2) === counts.max)
    assert(math.abs(r.getDouble(4) - d) < 1e-5, "dispersion")
    assert(r.getDouble(4) >= 0, "D is a variance ratio")
    assert(math.abs(r.getDouble(5) -
      (d - 1) / math.sqrt(2.0 / (n - 1))) < 1e-3, "effect size")
  }

  test("q307 char entropy replays from a Scala character walk; bits " +
      "bounded by log2 of the alphabet") {
    val got = TextAnalysis.q307CharEntropy.fn(spark, sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getDouble(3)))).toMap
    val docs = Tables.documents(spark, sf)
      .filter(col("text").isNotNull && col("source").isNotNull
        && length(col("text")) > 0)
      .select(col("source"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    for ((src, g) <- docs.groupBy(_._1)) {
      val cnt = g.flatMap(_._2.toCharArray).groupBy(identity)
        .map { case (_, v) => v.length.toLong }
      val n = cnt.sum
      val h = math.log(n.toDouble) -
        cnt.map(c => c * math.log(c.toDouble)).sum / n
      val bits = h / math.log(2.0)
      val (galpha, gn, gbits) = got(src)
      assert(galpha === cnt.size.toLong && gn === n, s"$src counts")
      assert(math.abs(gbits - bits) < 1e-4 * (1 + bits), s"$src bits")
      assert(gbits >= -1e-9 &&
        gbits <= math.log(cnt.size.toDouble) / math.log(2.0) + 1e-6,
        s"$src bits within [0, log2 alphabet]")
    }
    assert(got.keySet === docs.groupBy(_._1).keySet)
  }

  test("q308 norm drift replays from a Scala quantized-norm walk; " +
      "min <= mean <= max") {
    val got = graft.queries.Similarity.q308NormDrift.fn(spark, sf)
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getDouble(6))))
      .toMap
    val raw = Tables.embeddings(spark, sf)
      .select(col("label"), col("embedding")).collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1)
        .map(v => math.round(v.toDouble * 1000000L)).toArray))
    for ((l, g) <- raw.groupBy(_._1)) {
      val n2s = g.map(_._2.map(x => x * x).sum)
      val (gn, gz, gmsq, gmn, gmin, gmax) = got(l)
      assert(gn === n2s.length.toLong, s"$l count")
      assert(gz === n2s.count(_ == 0L).toLong, s"$l zero norms")
      assert(math.abs(gmsq - n2s.map(_.toDouble).sum / n2s.length / 1e12)
        < 1e-4, s"$l mean sq")
      val mn = n2s.map(x => math.sqrt(x.toDouble) / 1e6).sum / n2s.length
      assert(math.abs(gmn - mn) < 1e-5, s"$l mean norm")
      assert(gmin <= gmn + 1e-9 && gmn <= gmax + 1e-9, s"$l ordering")
    }
    assert(got.keySet === raw.groupBy(_._1).keySet)
  }

  test("q309 Wilcoxon signed-rank replays from a Scala paired-diff " +
      "walk; W+ within its structural bounds") {
    val r = Stats.q309WilcoxonSignedRank.fn(spark, sf).collect().head
    val ev = Tables.events(spark, sf)
      .filter(col("ts").isNotNull && col("user_id").isNotNull
        && col("value").isNotNull)
      .select(col("user_id"),
        expr("CAST(round(100 * value) AS BIGINT)"),
        expr("unix_micros(ts)")).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
    val mid = Math.floorDiv(ev.map(_._3).min + ev.map(_._3).max, 2L)
    val diffs = ev.groupBy(_._1).toSeq.map { case (u, g) =>
      (u, g.map(e => if (e._3 > mid) e._2 else -e._2).sum)
    }.filter(_._2 != 0L)
    val n = diffs.length.toLong
    val wplus = diffs.sortBy { case (u, d0) => (math.abs(d0), u) }
      .zipWithIndex
      .collect { case ((_, d0), i) if d0 > 0 => i + 1L }.sum
    assert(r.getLong(0) === n && r.getLong(1) === wplus)
    assert(wplus >= 0 && wplus <= n * (n + 1) / 2, "W+ bounds")
    if (n > 0) {
      val num = (4 * wplus - n * (n + 1)).toDouble
      val z2 = 3.0 * num * num / (2.0 * n * (n + 1) * (2 * n + 1))
      assert(math.abs(r.getDouble(3) - z2) < 1e-4 * (1 + z2), "z2")
      assert(r.getString(4) ===
        (if (z2 > 3.8415) "shifted" else "stable"))
    }
  }

  test("q310 pairwise Spearman replays from a Scala rank walk; rho in " +
      "[-1, 1] on full permutations") {
    val got = Stats.q310TypeVolumeSpearman.fn(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    val raw = Tables.events(spark, sf)
      .filter(col("ts").isNotNull && col("event_type").isNotNull)
      .select(col("event_type"), expr("unix_micros(ts) div 86400000000"))
      .collect().map(x => (x.getString(0), x.getLong(1)))
    val types = raw.map(_._1).distinct.sorted
    val (d0, d1) = (raw.map(_._2).min, raw.map(_._2).max)
    val m = d1 - d0 + 1
    val cnt = raw.groupBy(identity).map { case (k, v) =>
      k -> v.length.toLong }
    val ranks = types.map { t =>
      val series = (d0 to d1).map(dd => (cnt.getOrElse((t, dd), 0L), dd))
      t -> series.sorted.zipWithIndex
        .map { case ((_, dd), i) => dd -> (i + 1L) }.toMap
    }.toMap
    for (a <- types; bb <- types if a < bb) {
      val sd2 = (d0 to d1).map(dd =>
        { val diff = ranks(a)(dd) - ranks(bb)(dd); diff * diff }).sum
      val rho = 1.0 - 6.0 * sd2 / (m * (m * m - 1)).toDouble
      val (gm, grho) = got((a, bb))
      assert(gm === m, s"($a,$bb) days")
      assert(math.abs(grho - rho) < 1e-5, s"($a,$bb) rho")
      assert(grho >= -1 - 1e-9 && grho <= 1 + 1e-9, s"($a,$bb) range")
    }
    assert(got.size === types.length * (types.length - 1) / 2)
  }

  test("q311 centroid distances replay from a Scala centroid walk; " +
      "non-negative and complete over label pairs") {
    val got = graft.queries.Similarity.q311CentroidDistances
      .fn(spark, sf).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(4)).toMap
    val raw = Tables.embeddings(spark, sf)
      .select(col("label"), col("embedding")).collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1)
        .map(v => math.round(v.toDouble * 1000).toDouble).toArray))
    val cents = raw.groupBy(_._1).map { case (l, g) =>
      val dims = g.head._2.length
      l -> Array.tabulate(dims)(i => g.map(_._2(i)).sum / g.length)
    }
    val labels = cents.keys.toSeq.sorted
    for (a <- labels; bb <- labels if a < bb) {
      val d = math.sqrt(cents(a).zip(cents(bb))
        .map { case (x, y) => (x - y) * (x - y) }.sum) / 1000.0
      assert(math.abs(got((a, bb)) - d) < 1e-4 * (1 + d), s"($a,$bb)")
      assert(got((a, bb)) >= 0, s"($a,$bb) non-negative")
    }
    assert(got.size === labels.length * (labels.length - 1) / 2)
  }

  test("q312 size-price correlation replays from a Scala moment walk; " +
      "|r| <= 1") {
    val r = Stats.q312SizePriceCorr.fn(spark, sf).collect().head
    val v = Tables.part(spark, sf)
      .filter(col("p_size").isNotNull && col("p_retailprice").isNotNull)
      .select(col("p_size").cast("long"),
        expr("CAST(round(100 * p_retailprice) AS BIGINT)")).collect()
      .map(x => (x.getLong(0), x.getLong(1)))
    val n = v.length.toLong
    val sx = v.map(_._1).sum; val sy = v.map(_._2).sum
    val sxy = v.map(p => p._1 * p._2).sum
    val sxx = v.map(p => p._1 * p._1).sum
    val syy = v.map(p => p._2 * p._2).sum
    val rr = (n * sxy - sx * sy).toDouble /
      (math.sqrt((n * sxx - sx * sx).toDouble) *
        math.sqrt((n * syy - sy * sy).toDouble))
    assert(r.getLong(0) === n)
    assert(math.abs(r.getDouble(1) - rr) < 1e-5, "r")
    assert(math.abs(r.getDouble(1)) <= 1 + 1e-9, "|r| <= 1")
    assert(math.abs(r.getDouble(2) -
      (n * sxy - sx * sy).toDouble / (n * sxx - sx * sx) / 100) < 1e-5,
      "slope")
  }

  test("q313 nation revenue share replays from a Scala fixed-point " +
      "walk; shares sum to 1") {
    val got = Stats.q313NationRevenueShare.fn(spark, sf).collect()
      .map(r => r.getString(0) -> ((r.getDouble(1), r.getLong(2),
        r.getDouble(3)))).toMap
    val supNation = Tables.supplier(spark, sf)
      .join(Tables.nation(spark, sf),
        col("n_nationkey") === col("s_nationkey"))
      .select(col("s_suppkey"), col("n_name")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val li = Tables.lineitem(spark, sf)
      .select(col("l_suppkey"), col("l_extendedprice"),
        col("l_discount")).collect()
      .map(r => (supNation(r.getLong(0)),
        math.round(r.getDouble(1) * (1.0 - r.getDouble(2)) * 1e4)))
    val expect = li.groupBy(_._1).map { case (nn, g) =>
      nn -> g.map(_._2).sum }
    val totalD = expect.values.map(u => math.round(u.toDouble / 1e4))
      .sum
    for ((nn, units) <- expect) {
      val (grev, _, gshare) = got(nn)
      assert(math.abs(grev - units.toDouble / 1e4) < 1e-6 * (1 + grev),
        s"$nn revenue")
      val rd = math.round(units.toDouble / 1e4)
      assert(math.abs(gshare - rd.toDouble / totalD) < 1e-5,
        s"$nn share")
    }
    assert(math.abs(got.values.map(_._3).sum - 1.0) < 1e-4,
      "shares sum to 1")
    assert(got.keySet === expect.keySet)
  }

  test("q314 source-language mix replays from a Scala contingency " +
      "walk; V in [0, 1]") {
    val got = Stats.q314SourceLanguageMix.fn(spark, sf).collect()
      .map { r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(4),
          if (r.isNullAt(5)) Double.NaN else r.getDouble(5))) }.toMap
    val o = Tables.documents(spark, sf)
      .filter(col("source").isNotNull && col("lang").isNotNull)
      .select(col("source"), col("lang")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val cells = o.groupBy(identity).map { case (k, v) =>
      k -> v.length.toLong }
    val rows = o.groupBy(_._1).map { case (k, v) => k -> v.length.toLong }
    val cols = o.groupBy(_._2).map { case (k, v) => k -> v.length.toLong }
    val nn = o.length.toLong
    val chi2 = cells.map { case ((src, lg), obs) =>
      val e = rows(src).toDouble * cols(lg) / nn
      (obs - e) * (obs - e) / e
    }.sum
    val dfm = math.min(rows.size - 1, cols.size - 1)
    for (((src, lg), obs) <- cells) {
      val (gobs, gchi, gv) = got((src, lg))
      assert(gobs === obs, s"($src,$lg) cell")
      assert(math.abs(gchi - chi2) < 1e-3 * (1 + chi2), "chi2")
      if (dfm > 0) {
        val v = math.sqrt(chi2 / (nn * dfm))
        assert(math.abs(gv - v) < 1e-4, "V")
        assert(gv >= 0 && gv <= 1 + 1e-9, "V range")
      } else assert(gv.isNaN, "degenerate margins must NULL V")
    }
    assert(got.size === cells.size)
  }

  test("q315/q316/q317 percentiles replay from Scala sorted walks; the " +
      "run-decomposed k-th order statistics match literal sorting") {
    // q315: user activity
    val r315 = Stats.q315UserActivityPercentiles.fn(spark, sf)
      .collect().head
    val ucnt = Tables.events(spark, sf).filter(col("user_id").isNotNull)
      .select(col("user_id")).collect().map(_.getLong(0))
      .groupBy(identity).values.map(_.length.toLong).toSeq.sorted
    def kth(xs: Seq[Long], q: Long): Long =
      xs(((xs.length * q + 999999L) / 1000000L).toInt - 1)
    assert(r315.getLong(0) === ucnt.length.toLong)
    assert(r315.getLong(1) === kth(ucnt, 500000L), "p50")
    assert(r315.getLong(2) === kth(ucnt, 900000L), "p90")
    assert(r315.getLong(3) === kth(ucnt, 990000L), "p99")
    assert(r315.getLong(1) <= r315.getLong(2)
      && r315.getLong(2) <= r315.getLong(3), "monotone")
    // q316: doc lengths per source
    val got316 = TextAnalysis.q316DocLengthPercentiles.fn(spark, sf)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val lens = Tables.documents(spark, sf)
      .filter(col("source").isNotNull && col("n_chars").isNotNull)
      .select(col("source"), col("n_chars").cast("long")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    for ((src, g) <- lens.groupBy(_._1)) {
      val xs = g.map(_._2).sorted.toSeq
      val (gn, g50, g95) = got316(src)
      assert(gn === xs.length.toLong, s"$src n")
      assert(g50 === kth(xs, 500000L) && g95 === kth(xs, 950000L),
        s"$src percentiles")
    }
    // q317: per-type gaps
    val got317 = Stats.q317GapPercentiles.fn(spark, sf).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val ev = Tables.events(spark, sf)
      .filter(col("ts").isNotNull && col("event_type").isNotNull)
      .select(col("event_type"), col("event_id"),
        expr("unix_micros(ts)")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    for ((t, g) <- ev.groupBy(_._1)) {
      val gaps = g.sortBy(e => (e._3, e._2)).sliding(2).collect {
        case Array(a, b) => java.lang.Math.floorDiv(b._3 - a._3, 1000000L)
      }.toSeq.sorted
      if (gaps.nonEmpty) {
        val (gm, g50, g95, g99) = got317(t)
        assert(gm === gaps.length.toLong, s"$t m")
        assert(g50 === kth(gaps, 500000L), s"$t p50")
        assert(g95 === kth(gaps, 950000L), s"$t p95")
        assert(g99 === kth(gaps, 990000L), s"$t p99")
      } else assert(!got317.contains(t))
    }
  }

  test("q322/q323 replay from Scala sorted walks: shipping delays per " +
      "priority and repeat intervals per segment match literal sorts " +
      "and BigInt-exact means") {
    def kth(xs: Seq[Long], q: Long): Long =
      xs(((xs.length * q + 999999L) / 1000000L).toInt - 1)
    def mean6(tot: Long, n: Long): Double =
      ((BigInt(tot) / n).toLong +
        ((2 * (BigInt(tot) % n) * 1000000 + n) / (2 * n)).toDouble / 1e6)

    // q322: delays from a driver-side join over collected rows
    val odays = Tables.orders(spark, sf)
      .filter(col("o_orderdate").isNotNull)
      .select(col("o_orderkey"), col("o_orderpriority"),
        expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000"))
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2))))
      .toMap
    val delays = Tables.lineitem(spark, sf)
      .filter(col("l_shipdate").isNotNull)
      .select(col("l_orderkey"),
        expr("unix_micros(CAST(l_shipdate AS TIMESTAMP)) div 86400000000"))
      .collect().flatMap { r =>
        odays.get(r.getLong(0)).map { case (p, od) =>
          (p, r.getLong(1) - od)
        }
      }
    val got322 = SparkEntry.queries("q322_shipping_delay")(spark, sf)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    for ((p, g) <- delays.groupBy(_._1)) {
      val ds = g.map(_._2).sorted.toSeq
      val (n, p50, p95, m) = got322(p)
      assert(n === ds.length.toLong, s"$p n")
      assert(p50 === kth(ds, 500000L), s"$p p50")
      assert(p95 === kth(ds, 950000L), s"$p p95")
      assert(m === mean6(ds.sum, ds.length.toLong), s"$p mean")
    }
    assert(got322.keySet === delays.map(_._1).toSet)

    // q323: per-customer consecutive order gaps, segment-aggregated
    val seg = Tables.customer(spark, sf)
      .filter(col("c_mktsegment").isNotNull)
      .select(col("c_custkey"), col("c_mktsegment")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val ordRows = Tables.orders(spark, sf)
      .filter(col("o_orderdate").isNotNull)
      .select(col("o_custkey"), col("o_orderkey"),
        expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val gaps = ordRows.groupBy(_._1).toSeq.flatMap { case (ck, os) =>
      seg.get(ck).toSeq.flatMap { sg =>
        val sorted = os.sortBy(o => (o._3, o._2))
        sorted.zip(sorted.tail).map { case (a, b) => (sg, b._3 - a._3) }
      }
    }
    val got323 = SparkEntry.queries("q323_repeat_intervals")(spark, sf)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    for ((sg, g) <- gaps.groupBy(_._1)) {
      val ds = g.map(_._2).sorted.toSeq
      val (n, p50, p95, m) = got323(sg)
      assert(n === ds.length.toLong, s"$sg n")
      assert(p50 === kth(ds, 500000L), s"$sg p50")
      assert(p95 === kth(ds, 950000L), s"$sg p95")
      assert(m === mean6(ds.sum, ds.length.toLong), s"$sg mean")
    }
    assert(got323.keySet === gaps.map(_._1).toSet)
  }

  test("q324 token Gini replays from a Scala sorted rank walk; a " +
      "single-term source reads exactly 0") {
    val toks = Fan.fan(Tables.documents(spark, sf))
      .filter(col("source").isNotNull && length(col("text")) > 0)
      .select(col("source"), col("text")).collect()
      .flatMap(r => r.getString(1).split(" ", -1).map(r.getString(0) -> _))
    val got = queries.TextAnalysis.q324TokenGini.fn(spark, sf).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    for ((src, g) <- toks.groupBy(_._1)) {
      val counts = g.groupBy(_._2).map(_._2.length.toLong).toSeq.sorted
      // ranks follow (c, w) but Σ i·cᵢ over a sorted multiset is
      // tie-invariant: equal counts swap ranks without moving the sum
      val v = counts.length.toLong
      val t = counts.sum
      val sic = counts.zipWithIndex.map { case (c, i) =>
        BigInt(i + 1) * c }.sum
      val num = 2 * sic - BigInt(v + 1) * t
      val den = BigInt(v) * t
      val gini = (num / den).toLong.toDouble +
        ((2 * (num % den) * 1000000 + den) / (2 * den)).toDouble / 1e6
      val (gv, gt, gg) = got(src)
      assert(gv === v, s"$src vocab")
      assert(gt === t, s"$src tokens")
      assert(gg === gini, s"$src gini $gg vs $gini")
    }
    // degenerate: one distinct term → (2·1·T − 2·T)/T = 0 exactly
    import spark.implicits._
    val d = "/tmp/graft_tokengini_degen"
    Seq((1L, "aa aa aa aa", "en", "solo", 11L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/documents.parquet")
    val solo = SparkEntry.queries("q324_token_gini")(spark, d).collect()
    assert(solo.length === 1 && solo.head.getLong(1) === 1L)
    assert(solo.head.getDouble(3) === 0.0, "single-term Gini is exactly 0")
  }

  test("q325 ESS replays from a Scala dense-grid walk with the exact " +
      "double-op order; a sub-6-hour span NULLs the ESS") {
    val ev = Tables.events(spark, sf)
      .filter(col("ts").isNotNull && col("event_type").isNotNull)
      .select(col("event_type"), expr("unix_micros(ts) div 3600000000"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val got = Stats.q325EffectiveSampleSize.fn(spark, sf).collect()
      .map(r => r.getString(0) -> r).toMap
    for ((t, rows) <- ev.groupBy(_._1)) {
      val m0 = rows.map(_._2).min; val m1 = rows.map(_._2).max
      val xs = (m0 to m1).map(h => rows.count(_._2 == h).toLong).toArray
      val n = xs.length.toLong
      val sx = xs.sum
      val c = xs.map(x => n * x - sx)
      val den = c.map(v => v * v).sum
      def rho(k: Int): Option[Double] =
        if (n <= k || den == 0L) None
        else Some((k until c.length).map(i =>
          c(i) * c(i - k)).sum.toDouble / den.toDouble)
      val r = got(t)
      val rhos = (1 to 5).map(rho)
      for ((rk, i) <- rhos.zipWithIndex) rk match {
        case Some(v) => assert(r.getDouble(2 + i) ===
          math.rint(v * 1e6) / 1e6 || math.abs(r.getDouble(2 + i) - v) < 1e-6,
          s"$t rho${i + 1}")
        case None => assert(r.isNullAt(2 + i), s"$t rho${i + 1} NULL")
      }
      if (rhos.forall(_.isDefined)) {
        // the engine's EXACT left-to-right clip-sum order
        val s5 = rhos.flatten.foldLeft(0.0)((acc, v) =>
          acc + (if (v > 0) v else 0.0))
        val ess = n.toDouble / (1.0 + 2.0 * s5)
        assert(math.abs(r.getDouble(7) - ess) < 1e-6, s"$t ess")
      } else assert(r.isNullAt(7), s"$t ess NULL")
    }
    // degenerate: the samesec fixture spans ONE hour → every lag has
    // zero pairs → NULL rhos and NULL ESS (never a fabricated number).
    // Written here (idempotent, same rows as EdgeEventsSpec's) so this
    // spec stays runnable in isolation — /tmp fixtures don't survive
    // between sessions and a testOnly run must not depend on suite order.
    import spark.implicits._
    val samesec = "/tmp/graft_edge_events_samesec"
    Seq((1L, 1000000000L, 1L, "s", 1.0, "{}"),
      (2L, 1500000000L, 1L, "s", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$samesec/events.parquet")
    val solo = SparkEntry.queries("q325_effective_sample_size")(
      spark, samesec).collect()
    assert(solo.length === 1 && solo.head.getLong(1) === 1L)
    for (i <- 2 to 7) assert(solo.head.isNullAt(i), s"field $i NULL")
  }

  test("q326 Murphy decomposition: REL - RES + UNC equals the total " +
      "Brier to 1e-9, and every component replays from the q174 decile " +
      "table driver-side") {
    val r = Stats.q326BrierDecomposition.fn(spark, sf).collect().head
    val (brier, rel, res, unc) =
      (r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))
    assert(math.abs((rel - res + unc) - brier) <= 1e-6 + 1e-9,
      s"Murphy identity: $rel - $res + $unc vs $brier")
    assert(rel >= 0 && res >= 0 && unc >= 0 && unc <= 0.25)
    // replay from q174's decile table (its own net re-derives that from
    // raw events; here the decomposition algebra is what's under test)
    val dec = Stats.q174CalibrationBrier.fn(spark, sf).collect()
      .map(rr => (rr.getLong(1), rr.getLong(2), rr.getLong(3)))
    val nn = dec.map(_._1).sum
    val xx = dec.map(_._3).sum
    assert(r.getLong(0) === nn && r.getLong(1) === xx)
    def q6(x: Double): Double = math.rint(x * 1e6) / 1e6
    val relR = dec.map { case (n, x1, x2) =>
      val pmu = (2 * x1 * 1000000L + n) / (2 * n)
      val dd = (n * pmu - 1000000L * x2).toDouble
      math.rint(dd * dd / n / 1e12 / nn * 1e9) / 1e9
    }.sum
    val resR = dec.map { case (n, _, x2) =>
      val d2 = (nn * x2 - n * xx).toDouble
      math.rint(d2 * d2 / n / nn / nn / nn * 1e9) / 1e9
    }.sum
    val uncR = xx.toDouble * (nn - xx) / nn / nn
    assert(math.abs(rel - q6(relR)) <= 1e-6, s"rel $rel vs $relR")
    assert(math.abs(res - q6(resR)) <= 1e-6, s"res $res vs $resR")
    assert(unc === q6(uncR), s"unc $unc vs $uncR")
  }

  test("q327 QQ drift replays from Scala sorted per-half deciles; the " +
      "decile columns are monotone within each half") {
    val ev = Tables.events(spark, sf)
      .filter(col("ts").isNotNull && col("value").isNotNull
        && col("event_type").isNotNull)
      .select(col("event_type"), expr("unix_micros(ts)"),
        expr("CAST(round(100 * value) AS BIGINT)"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val mid = Math.floorDiv(ev.map(_._2).min + ev.map(_._2).max, 2L)
    val got = Stats.q327QqDrift.fn(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
      .toMap
    for ((t, g) <- ev.groupBy(_._1)) {
      val h0 = g.filter(_._2 <= mid).map(_._3).sorted
      val h1 = g.filter(_._2 > mid).map(_._3).sorted
      if (h0.nonEmpty && h1.nonEmpty) {
        for (j <- 1 to 9) {
          val (n0, n1, v0, v1) = got((t, j.toLong))
          assert(n0 === h0.length.toLong && n1 === h1.length.toLong)
          assert(v0 === h0(((h0.length.toLong * j + 9) / 10).toInt - 1),
            s"$t d$j first")
          assert(v1 === h1(((h1.length.toLong * j + 9) / 10).toInt - 1),
            s"$t d$j second")
        }
        // monotone deciles within each half
        val vs0 = (1 to 9).map(j => got((t, j.toLong))._3)
        val vs1 = (1 to 9).map(j => got((t, j.toLong))._4)
        assert(vs0 === vs0.sorted && vs1 === vs1.sorted)
      } else assert(!(1 to 9).exists(j => got.contains((t, j.toLong))),
        s"$t with an empty half must drop")
    }
  }

  test("typeGapsCarry: the forced bin-lag path equals the forced " +
      "window path row for row, carry columns included (the r17 " +
      "dispatch-equality net — production only ever switches plans, " +
      "never answers)") {
    val e = Tables.events(spark, sf)
      .filter(col("ts").isNotNull && col("value").isNotNull)
      .select(col("event_type"), col("event_id"),
        expr("unix_micros(ts)").as("us"),
        expr("CAST(floor(value * 100) AS BIGINT)").as("vc"))
    def dump(threshold: Long) =
      OrderedBins.typeGapsCarry(e, Seq("vc"), threshold)
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted
    val win = dump(Long.MaxValue) // always the lead window
    val par = dump(0L)            // always the bin-lag path
    assert(win.nonEmpty && win === par,
      s"paths diverge: window ${win.length} rows vs bin-lag ${par.length}")
    // and the no-carry wrapper agrees with itself across paths too
    def gaps(threshold: Long) =
      OrderedBins.typeGapsCarry(e, Nil, threshold).collect()
        .map(r => (r.getString(0), r.getLong(1))).sorted
    assert(gaps(Long.MaxValue) === gaps(0L))
    // carrying the sort key ITSELF ("us", the q152 shape) — the c_
    // rename must not collide with the struct/sort columns on any path
    def dumpUs(threshold: Long) =
      OrderedBins.typeGapsCarry(e, Seq("us"), threshold)
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted
    val winUs = dumpUs(Long.MaxValue)
    assert(winUs.nonEmpty && winUs === dumpUs(0L))
  }

  test("ntilePar by source: the closed-form rank bucket equals ntile() " +
      "exactly on every (source, doc_id), including a short source " +
      "(n < k, each row its own tile)") {
    val docs = Fan.fan(Tables.documents(spark, sf))
      .filter(col("source").isNotNull && length(col("text")) > 0)
      .select(col("source"), col("doc_id")).distinct()
    def dump(threshold: Long) =
      OrderedBins.ntilePar(docs, 10, "doc_id", desc = false, Nil,
        Seq("source"), threshold)
        .collect()
        .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val win = dump(Long.MaxValue)
    val par = dump(0L)
    assert(win.nonEmpty && win === par)
    // short-source edge: 7 docs into 10 tiles → tiles 1..7, one doc each
    import spark.implicits._
    val short = (1 to 7).map(i => ("s", i.toLong * 100))
      .toDF("source", "doc_id")
    val t = OrderedBins.ntilePar(short, 10, "doc_id", desc = false, Nil,
        Seq("source"), 0L)
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(t === (1 to 7).map(i => i.toLong * 100 -> i.toLong).toMap)
    // and a 23-into-10 split: first 3 tiles take 3 rows, the rest 2 —
    // the closed form must reproduce the window's exact boundaries
    val s23 = (1 to 23).map(i => ("s", i.toLong)).toDF("source", "doc_id")
    val t23f = OrderedBins.ntilePar(s23, 10, "doc_id", desc = false, Nil,
        Seq("source"), 0L)
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    val t23w = OrderedBins.ntilePar(s23, 10, "doc_id", desc = false, Nil,
        Seq("source"), Long.MaxValue)
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(t23f === t23w)
    assert(t23f(1L) === 1L && t23f(3L) === 1L && t23f(4L) === 2L
      && t23f(9L) === 3L && t23f(10L) === 4L && t23f(23L) === 10L)
  }

  test("rankPar/ntilePar/prefixSumPar: every forced two-level path " +
      "equals its forced window path — global and partitioned, asc and " +
      "desc keys, ties broken by the tie column (the r17 nets for the " +
      "partitionless Window.orderBy serialization class)") {
    // the q174/q326 shape: per-user first-half activity, desc key + tie
    val h = Tables.events(spark, sf)
      .filter(col("ts").isNotNull && col("user_id").isNotNull)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).cast("long").as("s1"))
    def rk(th: Long) = OrderedBins.rankPar(h, "s1", desc = true,
        Seq("user_id"), Nil, th).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    val (rw, rp) = (rk(Long.MaxValue), rk(0L))
    assert(rw.nonEmpty && rw === rp)
    // ntile closed form across both paths, k = 5 desc
    def nt5(th: Long) = OrderedBins.ntilePar(h, 5, "s1", desc = true,
        Seq("user_id"), Nil, th).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(nt5(Long.MaxValue) === nt5(0L))
    // the q273 shape: a global decile over a rounded-value cents key with
    // ties, event_id the tie — values repeated in the probe's key sketch
    // are hot, so the forced path runs the tie sub-bins
    val cents = Tables.events(spark, sf)
      .filter(col("ts").isNotNull && col("value").isNotNull)
      .select(col("event_id"),
        expr("CAST(round(100 * value) AS BIGINT)").as("cents"))
    def dec(th: Long) = OrderedBins.ntilePar(cents, 10, "cents",
      desc = false, Seq("event_id"), Nil, th)
    assert(dec(0L).queryExecution.analyzed.toString
      .contains("ELSE 1000000 END"), "no hot-value sub-bins on the q273 key")
    def decRows(th: Long) = dec(th).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val decWin = decRows(Long.MaxValue)
    assert(decWin.nonEmpty && decWin === decRows(0L))
    // partitioned asc rank with value ties (the q137 stage shape): rank
    // SETS per (part, key) must agree — equal keys are rank-permutations
    val lat = Tables.events(spark, sf)
      .filter(col("ts").isNotNull)
      .select(col("event_type").as("stage"),
        expr("CAST(floor(coalesce(value, 0) * 7) AS BIGINT)").as("lat_us"))
    def pr(th: Long) = OrderedBins.rankPar(lat, "lat_us", desc = false, Nil,
        Seq("stage"), th).collect()
      .groupBy(r => (r.getString(0), r.getLong(1)))
      .view.mapValues(_.map(r => (r.getLong(2), r.getLong(3)))
        .sorted.toVector)
      .toMap
    assert(pr(Long.MaxValue) === pr(0L))
    // global two-value prefix sums over a unique asc key (q194's shape)
    val docs = Fan.fan(Tables.documents(spark, sf))
      .select(col("doc_id"),
        length(col("text")).cast("long").as("a"),
        size(split(col("text"), " ")).cast("long").as("b"))
    def ps(th: Long) = OrderedBins.prefixSumPar(docs, "doc_id", desc = false,
        Nil, Seq("a", "b"), Nil, th).collect()
      .map(r => r.getLong(0) -> ((r.getLong(3), r.getLong(4)))).toMap
    assert(ps(Long.MaxValue) === ps(0L))
    // desc + tie prefix sum (q195's shape)
    def psd(th: Long) = OrderedBins.prefixSumPar(docs, "a", desc = true,
        Seq("doc_id"), Seq("b"), Nil, th).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(psd(Long.MaxValue) === psd(0L))
    // partitioned value-run prefix (the q133/q166/q196 shape): (part, key)
    // unique, no tie column, the run count as the value; flag 'A' becomes
    // NULL, a partition of its own on both paths
    val runs = Tables.lineitem(spark, sf)
      .filter(col("l_extendedprice").isNotNull)
      .groupBy(when(col("l_returnflag") =!= "A", col("l_returnflag"))
          .as("flag"),
        expr("CAST(round(100 * l_extendedprice) AS BIGINT)").as("c"))
      .agg(count(lit(1)).as("cnt"))
    def pp(th: Long) = OrderedBins.prefixSumPar(runs, "c", desc = false,
        Nil, Seq("cnt"), Seq("flag"), th).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(3)).toMap
    val ppWin = pp(Long.MaxValue)
    assert(ppWin.keys.exists(_._1 == null) && ppWin === pp(0L))
  }

  test("rankPar/prefixSumPar on an INT32 key: the forced two-level path " +
      "must not ClassCastException on the probe (the q176 shape — " +
      "documents.n_chars is INT32, and Row.getLong on a boxed Integer " +
      "threw exactly at the 2M-row dispatch this device targets) and " +
      "must equal the forced window path") {
    // cast INT explicitly: the driver testdata carries n_chars as int64
    // but Tool genscale (Tool.scala:95) regenerates it as length(text) —
    // INT32 — and the ×N corpus is the only regime where the 2M dispatch
    // actually fires, so the net pins the INT32 key shape directly
    val docs = Tables.documents(spark, sf)
      .filter(col("n_chars").isNotNull)
      .select(col("doc_id"), col("source"),
        col("n_chars").cast("int").as("score"))
    assert(docs.schema("score").dataType ===
      org.apache.spark.sql.types.IntegerType)
    def rk(th: Long) = OrderedBins.rankPar(docs, "score", desc = false,
        Seq("doc_id"), Seq("source"), th).collect()
      .map(r => (r.getString(1), r.getLong(0)) ->
        ((r.getLong(3), r.getLong(4)))).toMap
    val (w, p) = (rk(Long.MaxValue), rk(0L)) // 0L forces the large path
    assert(w.nonEmpty && w === p)
    // prefixSumPar, same INT32 key
    def ps(th: Long) = OrderedBins.prefixSumPar(docs, "score", desc = false,
        Seq("doc_id"), Seq("score"), Nil, th).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(ps(Long.MaxValue) === ps(0L))
  }

  test("rankPar/prefixSumPar refuse NULL keys loudly — the large path's " +
      "bin equi-join would silently drop them while the window path " +
      "keeps them nulls-first, so the contract is enforced, not assumed") {
    import spark.implicits._
    val d = Seq((1L, Some(5L)), (2L, None), (3L, Some(7L)))
      .toDF("id", "k")
    val e1 = intercept[IllegalArgumentException] {
      OrderedBins.rankPar(d, "k", desc = false, Seq("id"), Nil, 0L).collect()
    }
    assert(e1.getMessage.contains("NULL"))
    // threshold 0 forces the probe on both devices (a Long.MaxValue
    // threshold would take the r18 ZERO-JOB stats dispatch, whose
    // refusal is the execution-time assert sort key — BucketsSpec's net)
    val e2 = intercept[IllegalArgumentException] {
      OrderedBins.prefixSumPar(d, "k", desc = false, Seq("id"), Seq("id"), Nil,
        0L).collect()
    }
    assert(e2.getMessage.contains("NULL"))
  }
}
