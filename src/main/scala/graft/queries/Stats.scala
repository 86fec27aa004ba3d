package graft.queries

import graft.{Q, Tables}
import graft.functions.Exact
import graft.operators.Fan
import graft.operators.OrderedBins.{ntilePar, prefixSumPar, rankPar,
  typeGapsCarry}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Inferential statistics over behavioral data — the experiment-analysis
  * and model-fitting slice every analytics engine grows once it has
  * aggregates: A/B significance testing, multivariate least squares, and
  * χ² feature association. The reference (a single-pass exporter,
  * `main.py:84-140`) has none of this; all three are [EXT] per SURVEY §2.
  *
  * The family's shared exactness discipline: every SUM is an exact int64
  * aggregate (counts, or fixed-point-scaled measures), and the statistic
  * itself is a FIXED-ORDER chain of double ops over those exact integers —
  * IEEE multiplication/division in an explicitly parenthesized order is
  * bit-deterministic in both engines, so the oracle hash-matches without
  * the fixed-point unrolling the iterative family (q113) needs. Cheap
  * where exact rationals would overflow int64 (z² and OLS determinants
  * exceed 2⁶³ as integers at sf0.1; as ordered double ops they are exact
  * to the last ulp and identical cross-engine).
  */
object Stats {

  def all: Seq[Q] = Seq(q154AbTest, q155OlsNormalEq, q156Chi2Terms,
    q160Auc, q161LiftTable, q162WelchT, q163SpearmanCorr, q164BootstrapCi,
    q174CalibrationBrier, q177Cuped, q192Msprt, q197BenfordAudit,
    q200ContingencyAssoc, q204MaseEval, q205CohensKappa, q206IsotonicPava,
    q207MannWhitney, q208KendallTau, q209TheilSen, q210Wasserstein1,
    q212HillTail, q216BhFdr, q219CmhStrata, q221AcfLjungBox,
    q223CochranArmitage, q224DiffInDiff, q225CaptureRecapture,
    q226RunsTest, q229CliffsDelta, q230GoodTuring, q231MannKendall,
    q232TheilDecomposition, q233BayesAverage, q234ExpGapKs,
    q235Overdispersion, q236WilsonCi, q239EntropyRate, q240NeweyWest,
    q241DisparateImpact, q242MeansProfile, q243JarqueBera,
    q245KruskalWallis, q246Burstiness, q247MeanExcess, q248HodAnova,
    q249JamesStein, q252SrmCheck, q253PostStratAte, q254MdePower,
    q255RegDiscontinuity, q256UpliftQini, q257CramerVonMises,
    q258DurbinWatson, q259Friedman, q260AnsariBradley, q261HurstRs, q262Croston, q263BrownForsythe, q264Pacf, q265Grubbs,
    q266Greenwood, q267StreaksRecords, q278GapModelLlr,
    q279TurningPoints, q280BartelsRvn, q281CooksDistance,
    q288NegBinomialFit, q289Order2Entropy, q290SeasonalMannKendall,
    q292VolumeHhi, q293PriorityMixShift, q296GapBurstiness,
    q297OddsRatio, q298McNemar, q299DowSeasonality,
    q301CronbachAlpha, q302KendallW, q303TheilIndex,
    q304CustomerConcentration, q306OrderDispersion,
    q309WilcoxonSignedRank, q310TypeVolumeSpearman,
    q312SizePriceCorr, q313NationRevenueShare, q314SourceLanguageMix,
    q315UserActivityPercentiles, q317GapPercentiles,
    q322ShippingDelay, q323RepeatIntervals, q325EffectiveSampleSize,
    q326BrierDecomposition, q327QqDrift)

  /** A/B TEST — two-proportion z-test per metric, the experiment-analysis
    * operator: users are deterministically bucketed into variants by a
    * keyed md5 parity (the q65 hash-split idiom — assignment is a pure
    * function of user_id, reproducible on any engine and any re-run), the
    * conversion metric is "user emitted ≥ 15 events of type e" (the q113
    * engagement threshold — plain presence is degenerate on this fixture:
    * every user has every type, making X = N and the variance zero), and
    * each event type reports its lift and the χ²₍₁₎ statistic
    * z² = (x₁n₂ − x₂n₁)²·N / (n₁·n₂·X·(N−X)), N = n₁+n₂, X = x₁+x₂,
    * NULL when a variance factor is zero (all or none converted — the
    * nullif guards in both engines).
    *
    * Exactness: x and n are exact int64 counts; (x₁n₂ − x₂n₁)² ≤ 10¹⁶ and
    * every other product stays inside int64 through sf0.1×100 (n ≤ 10⁴
    * users), so z² is ONE double division of two exact int64 products —
    * bit-identical cross-engine. Rates go through the ratio6 integer
    * rounding. Significance threshold 3.8415 = χ²₍₁,0.05₎.
    *
    * Plan: one scan → (user, type) distinct (map-side combined), one
    * broadcast-sized per-variant arm table (5 types × 2 variants), a
    * 1-row user-universe count joined by broadcast. Nothing wider than
    * the distinct-pairs aggregate ever shuffles; at 100 TB the arm table
    * is still 10 rows.
    */
  val q154AbTest = Q(
    "q154_ab_test",
    s"""WITH u AS (
      |  SELECT DISTINCT user_id,
      |    CAST(('0x' || substr(md5('ab|' || CAST(user_id AS VARCHAR)), 1, 1))
      |      AS BIGINT) % 2 AS variant
      |  FROM events
      |),
      |n AS (
      |  SELECT
      |    sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS n1,
      |    sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS n2
      |  FROM u
      |),
      |cv AS (
      |  SELECT e.event_type,
      |    sum(CASE WHEN u.variant = 0 THEN 1 ELSE 0 END) AS x1,
      |    sum(CASE WHEN u.variant = 1 THEN 1 ELSE 0 END) AS x2
      |  FROM (SELECT user_id, event_type FROM events
      |        GROUP BY user_id, event_type HAVING count(*) >= 15) e
      |  JOIN u ON e.user_id = u.user_id
      |  GROUP BY e.event_type
      |),
      |s AS (
      |  SELECT event_type, x1, n1, x2, n2,
      |    (x1 * n2 - x2 * n1) AS dnum,
      |    (x1 + x2) AS xx, (n1 + n2) AS nn
      |  FROM cv, n
      |)
      |SELECT event_type,
      |  CAST(x1 AS BIGINT) AS x1, CAST(n1 AS BIGINT) AS n1,
      |  CAST(x2 AS BIGINT) AS x2, CAST(n2 AS BIGINT) AS n2,
      |  ${Exact.Sql.ratio6("x1", "n1")} AS rate1,
      |  ${Exact.Sql.ratio6("x2", "n2")} AS rate2,
      |  round(CAST(dnum * dnum AS DOUBLE) * CAST(nn AS DOUBLE)
      |    / nullif(CAST(n1 * n2 AS DOUBLE), 0)
      |    / nullif(CAST(xx * (nn - xx) AS DOUBLE), 0), 6) AS z2,
      |  CASE (CAST(dnum * dnum AS DOUBLE) * CAST(nn AS DOUBLE)
      |    / nullif(CAST(n1 * n2 AS DOUBLE), 0)
      |    / nullif(CAST(xx * (nn - xx) AS DOUBLE), 0)) > 3.8415
      |    WHEN true THEN 'significant' WHEN false THEN 'ns' END
      |    AS significant
      |FROM s
      |ORDER BY event_type NULLS FIRST""".stripMargin,
  ) { (s, d) =>
    val ev = Tables.events(s, d)
    val u = ev.select(col("user_id")).distinct()
      .withColumn("variant",
        conv(substring(md5(concat(lit("ab|"), col("user_id").cast("string"))),
          1, 1), 16, 10).cast("long") % 2)
    val n = u.agg(
      sum(when(col("variant") === 0, 1).otherwise(0)).as("n1"),
      sum(when(col("variant") === 1, 1).otherwise(0)).as("n2"))
    val conv0 = ev.groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n_ev")).filter(col("n_ev") >= 15)
      .select(col("user_id"), col("event_type"))
      .join(u, "user_id")
      .groupBy(col("event_type"))
      .agg(sum(when(col("variant") === 0, 1).otherwise(0)).as("x1"),
        sum(when(col("variant") === 1, 1).otherwise(0)).as("x2"))
    // z² denominators: X(N−X) ≤ N²/4 and n1·n2 ≤ N²/4 with N ≤ 10⁴ users
    // (sf0.1) — every int64 product ≤ 2.5·10⁷; dnum² ≤ 10¹⁶. All exact.
    val z2 = expr("""CAST(dnum * dnum AS DOUBLE) * CAST(nn AS DOUBLE)
      / nullif(CAST(n1 * n2 AS DOUBLE), CAST(0 AS DOUBLE))
      / nullif(CAST(xx * (nn - xx) AS DOUBLE), CAST(0 AS DOUBLE))""")
    conv0.crossJoin(broadcast(n))
      .select(col("event_type"), col("x1"), col("n1"), col("x2"), col("n2"),
        (col("x1") * col("n2") - col("x2") * col("n1")).as("dnum"),
        (col("x1") + col("x2")).as("xx"),
        (col("n1") + col("n2")).as("nn"))
      .select(col("event_type"),
        col("x1").cast("long").as("x1"), col("n1").cast("long").as("n1"),
        col("x2").cast("long").as("x2"), col("n2").cast("long").as("n2"),
        Exact.ratio6("x1", "n1").as("rate1"),
        Exact.ratio6("x2", "n2").as("rate2"),
        round(z2, 6).as("z2"),
        // §5.7 nullable-boolean rule (r16): verdict ships as a string —
        // NULL z2 (degenerate arm) propagates through both whens to NULL.
        when(z2 > 3.8415, lit("significant"))
          .when(z2 <= 3.8415, lit("ns")).as("significant"))
      .orderBy(col("event_type"))
  }

  /** OLS VIA NORMAL EQUATIONS — multivariate least squares fit of
    * l_extendedprice ~ β₀ + β₁·l_quantity + β₂·(100·l_discount), solved
    * per returnflag group by Cramer's rule on the 3×3 normal matrix XᵀX.
    * This is the distributed-ML workhorse shape: a linear model over a
    * 100 TB fact table is ONE pass of map-side-combined integer sums (the
    * sufficient statistics) plus O(k³) driver-free finish math per group —
    * no gradient iterations, no collect.
    *
    * Exactness: regressors are exact small ints (qty ≤ 50, discount·100 ≤
    * 10 — the ×100 de-scaling makes x₂ integral) and y is exact cents
    * (price has 2 decimals), so all 9 sufficient statistics are exact
    * int64 sums (Σx₁y ≤ 3·10¹⁴ at sf0.1×100). The determinants would
    * overflow int64 (Σx₁²·Σx₂²·n ~ 10²⁸), so the finish is fixed-order
    * double arithmetic over the exact integers — the q154 discipline:
    * det(M) = a(ei−fh) − b(di−fg) + c(dh−eg) with every operand an exact
    * int64 cast to double (all ≤ 2⁵³, so the casts are exact) and the
    * expression tree written identically in both engines.
    */
  val q155OlsNormalEq = Q(
    "q155_ols_normal_eq",
    """WITH m AS (
      |  SELECT l_returnflag,
      |    count(*) AS n,
      |    sum(CAST(round(l_quantity) AS BIGINT)) AS s1,
      |    sum(CAST(round(100 * l_discount) AS BIGINT)) AS s2,
      |    sum(CAST(round(l_quantity) AS BIGINT)
      |      * CAST(round(l_quantity) AS BIGINT)) AS s11,
      |    sum(CAST(round(l_quantity) AS BIGINT)
      |      * CAST(round(100 * l_discount) AS BIGINT)) AS s12,
      |    sum(CAST(round(100 * l_discount) AS BIGINT)
      |      * CAST(round(100 * l_discount) AS BIGINT)) AS s22,
      |    sum(CAST(round(100 * l_extendedprice) AS BIGINT)) AS sy,
      |    sum(CAST(round(l_quantity) AS BIGINT)
      |      * CAST(round(100 * l_extendedprice) AS BIGINT)) AS s1y,
      |    sum(CAST(round(100 * l_discount) AS BIGINT)
      |      * CAST(round(100 * l_extendedprice) AS BIGINT)) AS s2y
      |  FROM lineitem GROUP BY l_returnflag
      |),
      |f AS (
      |  SELECT l_returnflag, n, s1, s2, s11, s12, s22, sy, s1y, s2y,
      |    (CAST(n AS DOUBLE) * (CAST(s11 AS DOUBLE) * CAST(s22 AS DOUBLE)
      |        - CAST(s12 AS DOUBLE) * CAST(s12 AS DOUBLE))
      |      - CAST(s1 AS DOUBLE) * (CAST(s1 AS DOUBLE) * CAST(s22 AS DOUBLE)
      |        - CAST(s12 AS DOUBLE) * CAST(s2 AS DOUBLE))
      |      + CAST(s2 AS DOUBLE) * (CAST(s1 AS DOUBLE) * CAST(s12 AS DOUBLE)
      |        - CAST(s11 AS DOUBLE) * CAST(s2 AS DOUBLE))) AS det,
      |    (CAST(sy AS DOUBLE) * (CAST(s11 AS DOUBLE) * CAST(s22 AS DOUBLE)
      |        - CAST(s12 AS DOUBLE) * CAST(s12 AS DOUBLE))
      |      - CAST(s1 AS DOUBLE) * (CAST(s1y AS DOUBLE) * CAST(s22 AS DOUBLE)
      |        - CAST(s12 AS DOUBLE) * CAST(s2y AS DOUBLE))
      |      + CAST(s2 AS DOUBLE) * (CAST(s1y AS DOUBLE) * CAST(s12 AS DOUBLE)
      |        - CAST(s11 AS DOUBLE) * CAST(s2y AS DOUBLE))) AS det0,
      |    (CAST(n AS DOUBLE) * (CAST(s1y AS DOUBLE) * CAST(s22 AS DOUBLE)
      |        - CAST(s12 AS DOUBLE) * CAST(s2y AS DOUBLE))
      |      - CAST(sy AS DOUBLE) * (CAST(s1 AS DOUBLE) * CAST(s22 AS DOUBLE)
      |        - CAST(s12 AS DOUBLE) * CAST(s2 AS DOUBLE))
      |      + CAST(s2 AS DOUBLE) * (CAST(s1 AS DOUBLE) * CAST(s2y AS DOUBLE)
      |        - CAST(s1y AS DOUBLE) * CAST(s2 AS DOUBLE))) AS det1,
      |    (CAST(n AS DOUBLE) * (CAST(s11 AS DOUBLE) * CAST(s2y AS DOUBLE)
      |        - CAST(s1y AS DOUBLE) * CAST(s12 AS DOUBLE))
      |      - CAST(s1 AS DOUBLE) * (CAST(s1 AS DOUBLE) * CAST(s2y AS DOUBLE)
      |        - CAST(s1y AS DOUBLE) * CAST(s2 AS DOUBLE))
      |      + CAST(sy AS DOUBLE) * (CAST(s1 AS DOUBLE) * CAST(s12 AS DOUBLE)
      |        - CAST(s11 AS DOUBLE) * CAST(s2 AS DOUBLE))) AS det2
      |  FROM m
      |)
      |SELECT l_returnflag, CAST(n AS BIGINT) AS n,
      |  round(det0 / det / 100.0, 6) AS beta0,
      |  round(det1 / det / 100.0, 6) AS beta1,
      |  round(det2 / det / 100.0, 6) AS beta2
      |FROM f
      |ORDER BY l_returnflag NULLS FIRST""".stripMargin,
  ) { (s, d) =>
    // sufficient statistics: exact int64 fixed-point sums (regressors are
    // small ints, y in cents); max Σ|x₁·y| ≈ 50 · 10⁷ cents · 6·10⁵ rows
    // = 3·10¹⁴ at sf0.1 — two orders inside int64 even at ×100 scale
    olsFit(Tables.lineitem(s, d)
      .select(col("l_returnflag").as("g"),
        expr("CAST(round(l_quantity) AS BIGINT)").as("x1"),
        expr("CAST(round(100 * l_discount) AS BIGINT)").as("x2"),
        expr("CAST(round(100 * l_extendedprice) AS BIGINT)").as("y")),
      yScale = 100.0)
      .withColumnRenamed("g", "l_returnflag")
      .orderBy(col("l_returnflag"))
  }

  /** q155's operator body over any (g, x1, x2, y) frame of exact longs:
    * per-group β = (XᵀX)⁻¹Xᵀy by Cramer's rule, y de-scaled by yScale.
    * Cramer finish: fixed-order doubles over exact int64s (det products
    * ~10²⁸ overflow int64; as doubles each factor is an exact ≤2⁵³ cast
    * and the order is pinned by the parenthesization — both engines
    * evaluate the identical IEEE tree).
    */
  def olsFit(rows: org.apache.spark.sql.DataFrame,
      yScale: Double): org.apache.spark.sql.DataFrame = {
    val m = rows
      .groupBy(col("g"))
      .agg(count(lit(1)).as("n"),
        sum(col("x1")).as("s1"), sum(col("x2")).as("s2"),
        sum(col("x1") * col("x1")).as("s11"),
        sum(col("x1") * col("x2")).as("s12"),
        sum(col("x2") * col("x2")).as("s22"),
        sum(col("y")).as("sy"),
        sum(col("x1") * col("y")).as("s1y"),
        sum(col("x2") * col("y")).as("s2y"))
    def det3(a: String, b: String, c: String, dd: String, e: String,
        f: String, g: String, h: String, i: String) = expr(
      s"""CAST($a AS DOUBLE) * (CAST($e AS DOUBLE) * CAST($i AS DOUBLE)
        |    - CAST($f AS DOUBLE) * CAST($h AS DOUBLE))
        |  - CAST($b AS DOUBLE) * (CAST($dd AS DOUBLE) * CAST($i AS DOUBLE)
        |    - CAST($f AS DOUBLE) * CAST($g AS DOUBLE))
        |  + CAST($c AS DOUBLE) * (CAST($dd AS DOUBLE) * CAST($h AS DOUBLE)
        |    - CAST($e AS DOUBLE) * CAST($g AS DOUBLE))""".stripMargin)
    // XᵀX rows: [n s1 s2; s1 s11 s12; s2 s12 s22]; Xᵀy = [sy s1y s2y].
    // det_k replaces column k (symmetry lets each determinant expand
    // along the replaced column's transpose row — written out explicitly
    // so the Spark and DuckDB trees match token for token).
    m.select(col("g"), col("n"),
        col("s1"), col("s2"), col("s11"), col("s12"), col("s22"),
        col("sy"), col("s1y"), col("s2y"),
        det3("n", "s1", "s2", "s1", "s11", "s12", "s2", "s12", "s22")
          .as("det"),
        det3("sy", "s1", "s2", "s1y", "s11", "s12", "s2y", "s12", "s22")
          .as("det0"),
        det3("n", "sy", "s2", "s1", "s1y", "s12", "s2", "s2y", "s22")
          .as("det1"),
        det3("n", "s1", "sy", "s1", "s11", "s1y", "s2", "s12", "s2y")
          .as("det2"))
      .select(col("g"), col("n").cast("long").as("n"),
        round(col("det0") / col("det") / yScale, 6).as("beta0"),
        round(col("det1") / col("det") / yScale, 6).as("beta1"),
        round(col("det2") / col("det") / yScale, 6).as("beta2"))
  }

  /** χ² TERM–CLASS ASSOCIATION — supervised feature selection for text:
    * for each (token, language) cell the 2×2 document-contingency table
    * (a = docs in class with term, b = in class without, c = out of class
    * with, d = out without) scores χ² = N·(ad−bc)² / ((a+b)(c+d)(a+c)(b+d)),
    * the standard vocabulary-selection statistic; top 50 by (χ², term,
    * class) are the class-indicative keywords a language/quality
    * classifier trains on.
    *
    * Exactness: pure counting. N ≤ 5·10³ docs (sf0.1) keeps (ad−bc)² ≤
    * 4·10¹³, ×N ≤ 2·10¹⁷ and the 4-factor denominator ≤ N⁴ ≈ 6·10¹⁴ —
    * both exact int64, so χ² is ONE double division. DF floor 10 is the
    * standard noise cut (χ² is unreliable under ~5 expected counts).
    *
    * Plan: per-doc array_distinct BEFORE the explode (the q86 lesson —
    * presence, not frequency, and no shuffled DISTINCT), one (term,class)
    * hash aggregate, one vocab-sized term-total join, broadcast class
    * totals, TakeOrderedAndProject caps the output. Nothing quadratic;
    * the vocab aggregate is the widest stage and it map-side combines.
    */
  val q156Chi2Terms = Q(
    "q156_chi2_terms",
    """WITH dt AS (
      |  SELECT doc_id, lang, unnest(list_distinct(string_split(text, ' ')))
      |    AS term
      |  FROM documents
      |),
      |tc AS (SELECT term, lang, count(*) AS a_tc FROM dt GROUP BY 1, 2),
      |tt AS (SELECT term, sum(a_tc) AS t_tot FROM tc GROUP BY 1),
      |ct AS (SELECT lang, count(*) AS c_tot FROM documents GROUP BY 1),
      |nn AS (SELECT count(*) AS n FROM documents),
      |cell AS (
      |  SELECT tc.term, tc.lang, tc.a_tc AS a,
      |    ct.c_tot - tc.a_tc AS b,
      |    tt.t_tot - tc.a_tc AS c,
      |    nn.n - ct.c_tot - (tt.t_tot - tc.a_tc) AS d,
      |    nn.n AS n
      |  FROM tc JOIN tt USING (term) JOIN ct USING (lang), nn
      |  WHERE tt.t_tot >= 10
      |)
      |SELECT term, lang,
      |  CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b,
      |  CAST(c AS BIGINT) AS c, CAST(d AS BIGINT) AS d,
      |  round(CAST(n * (a * d - b * c) * (a * d - b * c) AS DOUBLE)
      |    / CAST((a + b) * (c + d) * (a + c) * (b + d) AS DOUBLE), 6)
      |    AS chi2
      |FROM cell
      |ORDER BY chi2 DESC NULLS LAST, term NULLS FIRST, lang NULLS FIRST
      |LIMIT 50""".stripMargin,
  ) { (s, d) =>
    val docs = Fan.fan(Tables.documents(s, d))
    val dt = docs.select(col("doc_id"), col("lang"),
      explode(array_distinct(split(col("text"), " "))).as("term"))
    val tc = dt.groupBy(col("term"), col("lang")).agg(count(lit(1)).as("a_tc"))
    val tt = tc.groupBy(col("term")).agg(sum(col("a_tc")).as("t_tot"))
    val ct = docs.groupBy(col("lang")).agg(count(lit(1)).as("c_tot"))
    val nn = docs.agg(count(lit(1)).as("n"))
    // int64 bounds: a,b,c,d,n ≤ 5·10³ (sf0.1 docs; ×100 scale → 5·10⁵,
    // (ad−bc)² ≤ 6·10²¹ would overflow — at that scale divide the four
    // margins first in fixed-order doubles; flagged here, not needed yet)
    tc.filter(col("a_tc").isNotNull)
      .join(tt.filter(col("t_tot") >= 10), "term")
      .join(broadcast(ct), "lang")
      .crossJoin(broadcast(nn))
      .select(col("term"), col("lang"),
        col("a_tc").as("a"),
        (col("c_tot") - col("a_tc")).as("b"),
        (col("t_tot") - col("a_tc")).as("c"),
        (col("n") - col("c_tot") - (col("t_tot") - col("a_tc"))).as("d"),
        col("n"))
      .select(col("term"), col("lang"),
        col("a").cast("long").as("a"), col("b").cast("long").as("b"),
        col("c").cast("long").as("c"), col("d").cast("long").as("d"),
        round(expr(
          """CAST(n * (a * d - b * c) * (a * d - b * c) AS DOUBLE)
            | / CAST((a + b) * (c + d) * (a + c) * (b + d) AS DOUBLE)"""
            .stripMargin), 6).as("chi2"))
      .orderBy(col("chi2").desc_nulls_last, col("term"), col("lang"))
      .limit(50)
  }

  /** EXACT ROC AUC — the model-evaluation operator, computed as the
    * rank-sum (Mann–Whitney) statistic with MIDRANK tie correction: for
    * each event type, "does a user's count of that event type predict
    * heavy purchasing (≥ 15 purchase events)?" AUC = U/(n⁺·n⁻) where
    * U = Σ_pos midrank − n⁺(n⁺+1)/2. Ties are the whole problem on count
    * data — midranks keep the statistic exactly equal to the
    * P(score⁺>score⁻) + ½P(=) definition, and DOUBLED midranks
    * (2·mid = 2·cum_below + cnt + 1) keep every term integer, so AUC
    * reports through ratio6's exact integer rounding: no float ranks,
    * no approximation, bit-equal cross-engine.
    *
    * Plan: one (user,type) count aggregate (map-side combined), a
    * type-count grid left-joined so absent scores count as 0 (types are
    * bounded, so the grid is users×|types|), then per (type, DISTINCT
    * score) rows — the windows run over score-cardinality-sized input,
    * never user-proportional rows (the q147 value-run discipline). At
    * 10⁶ users the rank pass touches ≤ |distinct counts| rows per type.
    */
  val q160Auc = Q(
    "q160_auc",
    """WITH uu AS (SELECT DISTINCT user_id FROM events),
      |lbl AS (
      |  SELECT uu.user_id,
      |    CASE WHEN coalesce(p.np, 0) >= 15 THEN 1 ELSE 0 END AS pos
      |  FROM uu LEFT JOIN (
      |    SELECT user_id, count(*) AS np FROM events
      |    WHERE event_type = 'purchase' GROUP BY user_id) p
      |  ON uu.user_id = p.user_id
      |),
      |ty AS (SELECT DISTINCT event_type FROM events),
      |sc AS (
      |  SELECT user_id, event_type, count(*) AS s FROM events
      |  GROUP BY user_id, event_type
      |),
      |grid AS (
      |  SELECT ty.event_type, lbl.user_id, lbl.pos,
      |    coalesce(sc.s, 0) AS s
      |  FROM ty CROSS JOIN lbl
      |  LEFT JOIN sc ON sc.user_id = lbl.user_id
      |    AND sc.event_type = ty.event_type
      |),
      |runs AS (
      |  SELECT event_type, s, count(*) AS cnt,
      |    sum(pos) AS posc
      |  FROM grid GROUP BY event_type, s
      |),
      |rk AS (
      |  SELECT event_type, s, cnt, posc,
      |    2 * (sum(cnt) OVER (PARTITION BY event_type ORDER BY s
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - cnt)
      |      + cnt + 1 AS mid2
      |  FROM runs
      |)
      |SELECT event_type,
      |  CAST(sum(posc) AS BIGINT) AS npos,
      |  CAST(sum(cnt) - sum(posc) AS BIGINT) AS nneg,
      |  CAST(((2 * CAST(sum(posc * mid2) - sum(posc) * (sum(posc) + 1)
      |          AS BIGINT) * 1000000
      |        + CAST(2 * sum(posc) * (sum(cnt) - sum(posc)) AS BIGINT))
      |    // nullif(2 * CAST(2 * sum(posc) * (sum(cnt) - sum(posc))
      |          AS BIGINT), 0)) AS DOUBLE) / 1000000.0 AS auc
      |FROM rk GROUP BY event_type
      |ORDER BY event_type NULLS FIRST""".stripMargin,
  ) { (s, d) =>
    val ev = Tables.events(s, d)
    val uu = ev.select(col("user_id")).distinct()
    val lbl = uu.join(
        ev.filter(col("event_type") === "purchase")
          .groupBy(col("user_id")).agg(count(lit(1)).as("np")),
        Seq("user_id"), "left")
      .select(col("user_id"),
        when(coalesce(col("np"), lit(0L)) >= 15, 1).otherwise(0).as("pos"))
    val ty = ev.select(col("event_type")).distinct()
    val sc = ev.groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("s"))
    val grid = lbl.crossJoin(broadcast(ty))
      .join(sc, Seq("user_id", "event_type"), "left")
      .select(col("event_type"), col("user_id"), col("pos"),
        coalesce(col("s"), lit(0L)).as("s"))
    val runs = grid.groupBy(col("event_type"), col("s"))
      .agg(count(lit(1)).as("cnt"), sum(col("pos")).as("posc"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("s"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val rk = runs.withColumn("mid2",
      lit(2) * (sum(col("cnt")).over(w) - col("cnt")) + col("cnt") + 1)
    // 2U = Σ posc·mid2 − n⁺(n⁺+1); AUC = 2U / (2·n⁺·n⁻), both exact int64
    rk.groupBy(col("event_type"))
      .agg(sum(col("posc")).as("np"),
        (sum(col("cnt")) - sum(col("posc"))).as("nn"),
        (sum(col("posc") * col("mid2"))
          - sum(col("posc")) * (sum(col("posc")) + 1)).as("u2"))
      .select(col("event_type"),
        col("np").cast("long").as("npos"),
        col("nn").cast("long").as("nneg"),
        Exact.ratio6("u2", "2 * np * nn").as("auc"))
      .orderBy(col("event_type"))
  }

  /** DECILE LIFT / GAINS TABLE — the campaign-targeting evaluation: users
    * ranked by activity score (total events, heaviest first, user_id
    * tiebreak for a total order), cut into 10 equal-as-possible deciles
    * (ntile semantics — both engines give the first deciles the
    * remainder), and each decile reports its conversion rate (≥ 15
    * purchases), cumulative capture of all converters, and lift vs the
    * base rate — every ratio through ratio6's exact integer rounding.
    *
    * Plan: one user-count aggregate, ONE user-count-sized ntile window
    * (global ordering over users — at 10⁹ users shard the ntile by the
    * q142 two-pass rank-transform discipline), one 10-row rollup.
    */
  val q161LiftTable = Q(
    "q161_lift_table",
    s"""WITH s AS (
      |  SELECT user_id, count(*) AS score,
      |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS np
      |  FROM events GROUP BY user_id
      |),
      |d AS (
      |  SELECT user_id, score, CASE WHEN np >= 15 THEN 1 ELSE 0 END AS pos,
      |    ntile(10) OVER (ORDER BY score DESC, user_id) AS decile
      |  FROM s
      |),
      |g AS (
      |  SELECT decile, count(*) AS n_users, sum(pos) AS n_pos
      |  FROM d GROUP BY decile
      |),
      |t AS (SELECT sum(n_users) AS tu, sum(n_pos) AS tp FROM g)
      |SELECT decile, CAST(n_users AS BIGINT) AS n_users,
      |  CAST(n_pos AS BIGINT) AS n_pos,
      |  ${Exact.Sql.ratio6("n_pos", "n_users")} AS conv_rate,
      |  ${Exact.Sql.ratio6(
          "sum(n_pos) OVER (ORDER BY decile ROWS BETWEEN UNBOUNDED " +
            "PRECEDING AND CURRENT ROW)", "tp")} AS cum_capture,
      |  ${Exact.Sql.ratio6("n_pos * tu", "n_users * tp")} AS lift
      |FROM g, t
      |ORDER BY decile NULLS FIRST""".stripMargin,
  ) { (s, d) =>
    val sdf = Tables.events(s, d).groupBy(col("user_id"))
      .agg(count(lit(1)).as("score"),
        sum(when(col("event_type") === "purchase", 1).otherwise(0)).as("np"))
    // decile via the scale-parallel closed-form ntile (r17 — the global
    // Window.orderBy sorted every USER in one task, the serialization
    // class the r16 partitionBy grep could not see)
    val ddf = ntilePar(sdf.select(col("user_id"), col("score"),
        when(col("np") >= 15, 1).otherwise(0).as("pos"))
        .transform(graft.operators.Iter.pin), // probe + main action (§5.7 pin rule)
        10, "score", desc = true, Seq("user_id"))
      .withColumnRenamed("tile", "decile")
    val g = ddf.groupBy(col("decile"))
      .agg(count(lit(1)).as("n_users"), sum(col("pos")).as("n_pos"))
    val t = g.agg(sum(col("n_users")).as("tu"), sum(col("n_pos")).as("tp"))
    g.crossJoin(broadcast(t))
      .withColumn("cum_pos", sum(col("n_pos")).over(
        Window.orderBy(col("decile"))
          .rowsBetween(Window.unboundedPreceding, 0)))
      .select(col("decile"),
        col("n_users").cast("long").as("n_users"),
        col("n_pos").cast("long").as("n_pos"),
        Exact.ratio6("n_pos", "n_users").as("conv_rate"),
        Exact.ratio6("cum_pos", "tp").as("cum_capture"),
        Exact.ratio6("n_pos * tu", "n_users * tp").as("lift"))
      .orderBy(col("decile"))
  }

  /** WELCH'S T² — the unequal-variance two-sample mean test, the
    * continuous-metric companion to q154's proportion test: per event
    * type, does mean `value` differ between the md5 variants?
    * t² = (m₁−m₂)² / (v₁/n₁ + v₂/n₂) with sample variances
    * vᵢ = (nᵢ·Σx² − (Σx)²)/(nᵢ(nᵢ−1)). Sums are exact int64 over
    * centi-scaled values (Σx² ≤ 2.5·10¹⁵ at sf0.1×100); the statistic is
    * the q154/q155 fixed-order double finish over those exact integers,
    * nullif-guarded for degenerate arms (n ≤ 1 or both variances zero).
    * Plan: ONE scan, one (type, variant) aggregate of 4 sufficient
    * statistics, a 10-row pivot-by-join finish.
    */
  val q162WelchT = Q(
    "q162_welch_t",
    s"""WITH e AS (
      |  SELECT event_type, value,
      |    CAST(('0x' || substr(md5('ab|' || CAST(user_id AS VARCHAR)), 1, 1))
      |      AS BIGINT) % 2 AS variant
      |  FROM events WHERE value IS NOT NULL
      |),
      |m AS (
      |  SELECT event_type, variant, count(*) AS n,
      |    sum(CAST(round(100 * value) AS BIGINT)) AS sx,
      |    sum(CAST(round(100 * value) AS BIGINT)
      |      * CAST(round(100 * value) AS BIGINT)) AS sq
      |  FROM e GROUP BY event_type, variant
      |),
      |j AS (
      |  SELECT a.event_type,
      |    a.n AS n1, a.sx AS sx1, a.sq AS sq1,
      |    b.n AS n2, b.sx AS sx2, b.sq AS sq2
      |  FROM m a JOIN m b ON a.event_type = b.event_type
      |    AND a.variant = 0 AND b.variant = 1
      |)
      |SELECT event_type, CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
      |  ${Exact.Sql.ratio6Big("sx1", "100 * n1")} AS mean1,
      |  ${Exact.Sql.ratio6Big("sx2", "100 * n2")} AS mean2,
      |  round(
      |    (CAST(sx1 AS DOUBLE) / CAST(n1 * 100 AS DOUBLE)
      |      - CAST(sx2 AS DOUBLE) / CAST(n2 * 100 AS DOUBLE))
      |    * (CAST(sx1 AS DOUBLE) / CAST(n1 * 100 AS DOUBLE)
      |      - CAST(sx2 AS DOUBLE) / CAST(n2 * 100 AS DOUBLE))
      |    / nullif(
      |      (CAST(n1 AS DOUBLE) * CAST(sq1 AS DOUBLE)
      |        - CAST(sx1 AS DOUBLE) * CAST(sx1 AS DOUBLE))
      |        / CAST(n1 AS DOUBLE) / nullif(CAST(n1 - 1 AS DOUBLE), 0)
      |        / 10000.0 / CAST(n1 AS DOUBLE)
      |      + (CAST(n2 AS DOUBLE) * CAST(sq2 AS DOUBLE)
      |        - CAST(sx2 AS DOUBLE) * CAST(sx2 AS DOUBLE))
      |        / CAST(n2 AS DOUBLE) / nullif(CAST(n2 - 1 AS DOUBLE), 0)
      |        / 10000.0 / CAST(n2 AS DOUBLE), 0), 6) AS t2
      |FROM j
      |ORDER BY event_type NULLS FIRST""".stripMargin,
  ) { (s, d) =>
    val e = Tables.events(s, d).filter(col("value").isNotNull)
      .select(col("event_type"),
        expr("CAST(round(100 * value) AS BIGINT)").as("x"),
        conv(substring(md5(concat(lit("ab|"), col("user_id").cast("string"))),
          1, 1), 16, 10).cast("long") % 2 as "variant")
    val m = e.groupBy(col("event_type"), col("variant"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("x") * col("x")).as("sq"))
    val j = m.filter(col("variant") === 0)
      .select(col("event_type"), col("n").as("n1"), col("sx").as("sx1"),
        col("sq").as("sq1"))
      .join(m.filter(col("variant") === 1)
        .select(col("event_type"), col("n").as("n2"), col("sx").as("sx2"),
          col("sq").as("sq2")), "event_type")
    j.select(col("event_type"),
        col("n1").cast("long").as("n1"), col("n2").cast("long").as("n2"),
        // ratio6Big (r16 audit): sx is a row-proportional CENT sum —
        // the q166 class; the Big split retires the 4.6e12 line
        Exact.ratio6Big("sx1", "100 * n1").as("mean1"),
        Exact.ratio6Big("sx2", "100 * n2").as("mean2"),
        round(expr(
          """(CAST(sx1 AS DOUBLE) / CAST(n1 * 100 AS DOUBLE)
            |  - CAST(sx2 AS DOUBLE) / CAST(n2 * 100 AS DOUBLE))
            |* (CAST(sx1 AS DOUBLE) / CAST(n1 * 100 AS DOUBLE)
            |  - CAST(sx2 AS DOUBLE) / CAST(n2 * 100 AS DOUBLE))
            |/ nullif(
            |  (CAST(n1 AS DOUBLE) * CAST(sq1 AS DOUBLE)
            |    - CAST(sx1 AS DOUBLE) * CAST(sx1 AS DOUBLE))
            |    / CAST(n1 AS DOUBLE) / nullif(CAST(n1 - 1 AS DOUBLE), CAST(0 AS DOUBLE))
            |    / 10000.0 / CAST(n1 AS DOUBLE)
            |  + (CAST(n2 AS DOUBLE) * CAST(sq2 AS DOUBLE)
            |    - CAST(sx2 AS DOUBLE) * CAST(sx2 AS DOUBLE))
            |    / CAST(n2 AS DOUBLE) / nullif(CAST(n2 - 1 AS DOUBLE), CAST(0 AS DOUBLE))
            |    / 10000.0 / CAST(n2 AS DOUBLE), CAST(0 AS DOUBLE))"""
            .stripMargin), 6).as("t2"))
      .orderBy(col("event_type"))
  }

  /** SPEARMAN RANK CORRELATION — the monotone-association test: per event
    * type, do users who emit MORE events of that type also move MORE value
    * through it? ρ = Pearson over midranks of (frequency, monetary), the
    * distribution-free complement to q162's mean test (robust to the heavy
    * activity tails q147 measures). Ties are handled by midranks, and
    * DOUBLED midranks (2·mid = 2·cum_below + cnt + 1, the q160 device)
    * keep every rank integer; ρ is invariant under the ×2 affine map, so
    * Pearson over mid2 IS Spearman.
    *
    * Exactness: all six sufficient statistics are exact int64 sums of
    * doubled-midrank products (mid2 ≤ 2n+1, n ≤ 10⁴ users at sf0.1 →
    * n·Σxy ≤ 4·10¹⁶; ×100 scale overflows int64 — there, shift mid2 by
    * −(n+1) first, which ρ-invariance also permits and which recenters the
    * products near zero). The finish is the q154/q162 fixed-order double
    * discipline; IEEE sqrt is correctly rounded, hence bit-identical
    * cross-engine. Zero-variance arms (all users tied) yield NULL via
    * nullif.
    *
    * Plan: one (type, user) aggregate (map-side combined), then midranks
    * by the q142/q147 VALUE-RUN discipline — the rank windows run over
    * DISTINCT (type, value) runs, never user-proportional rows — joined
    * back on the run key, one 5-row finish aggregate. No global sort, no
    * user-sized window anywhere.
    */
  val q163SpearmanCorr = Q(
    "q163_spearman_corr",
    """WITH pu AS (
      |  SELECT event_type, user_id, count(*) AS f,
      |    sum(CASE WHEN value IS NULL THEN 0
      |        ELSE CAST(round(100 * value) AS BIGINT) END) AS m
      |  FROM events GROUP BY event_type, user_id
      |),
      |rf AS (
      |  SELECT event_type, f,
      |    2 * (sum(cnt) OVER (PARTITION BY event_type ORDER BY f
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - cnt)
      |      + cnt + 1 AS mid2
      |  FROM (SELECT event_type, f, count(*) AS cnt FROM pu
      |        GROUP BY event_type, f) t
      |),
      |rm AS (
      |  SELECT event_type, m,
      |    2 * (sum(cnt) OVER (PARTITION BY event_type ORDER BY m
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - cnt)
      |      + cnt + 1 AS mid2
      |  FROM (SELECT event_type, m, count(*) AS cnt FROM pu
      |        GROUP BY event_type, m) t
      |),
      |s AS (
      |  SELECT pu.event_type, count(*) AS n,
      |    sum(rf.mid2) AS sx, sum(rm.mid2) AS sy,
      |    sum(rf.mid2 * rm.mid2) AS sxy,
      |    sum(rf.mid2 * rf.mid2) AS sxx,
      |    sum(rm.mid2 * rm.mid2) AS syy
      |  FROM pu
      |  JOIN rf ON rf.event_type = pu.event_type AND rf.f = pu.f
      |  JOIN rm ON rm.event_type = pu.event_type AND rm.m = pu.m
      |  GROUP BY pu.event_type
      |)
      |SELECT event_type, CAST(n AS BIGINT) AS n,
      |  round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
      |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |    / nullif(sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |      * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
      |        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)), 0), 6) AS rho
      |FROM s
      |ORDER BY event_type NULLS FIRST""".stripMargin,
  ) { (s, d) =>
    val pu = Tables.events(s, d)
      .groupBy(col("event_type"), col("user_id"))
      .agg(count(lit(1)).as("f"),
        sum(when(col("value").isNull, 0L)
          .otherwise(expr("CAST(round(100 * value) AS BIGINT)"))).as("m"))
    // doubled midranks over VALUE RUNS (never user-proportional rows)
    def mid2(vc: String): org.apache.spark.sql.DataFrame = {
      val w = Window.partitionBy(col("event_type")).orderBy(col(vc))
        .rowsBetween(Window.unboundedPreceding, 0)
      pu.groupBy(col("event_type"), col(vc)).agg(count(lit(1)).as("cnt"))
        .select(col("event_type"), col(vc),
          (lit(2) * (sum(col("cnt")).over(w) - col("cnt")) + col("cnt") + 1)
            .as(s"mid2_$vc"))
    }
    val sdf = pu
      .join(mid2("f"), Seq("event_type", "f"))
      .join(mid2("m"), Seq("event_type", "m"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("mid2_f")).as("sx"), sum(col("mid2_m")).as("sy"),
        sum(col("mid2_f") * col("mid2_m")).as("sxy"),
        sum(col("mid2_f") * col("mid2_f")).as("sxx"),
        sum(col("mid2_m") * col("mid2_m")).as("syy"))
    sdf.select(col("event_type"), col("n").cast("long").as("n"),
        round(expr(
          """(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
            |    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
            |  / nullif(sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
            |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
            |    * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
            |      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)),
            |    CAST(0 AS DOUBLE))""".stripMargin), 6).as("rho"))
      .orderBy(col("event_type"))
  }

  // Poisson(1) inverse-CDF thresholds in 16⁶-unit integer space: a uniform
  // u = first 6 md5 hex digits ∈ [0, 16777216) maps to weight k at the
  // first threshold it undershoots (floor(CDF(k)·16⁶), k = 0..5; the
  // residual 9969/16M tail mass collapses into w = 6). Integer literals →
  // both engines draw IDENTICAL weights from identical digests.
  private val PoissonCdf16M = Seq(6171992L, 12343985L, 15429982L,
    16458647L, 16715813L, 16767247L)
  private val BootstrapR = 64

  /** POISSON BOOTSTRAP CI — resampling-free confidence intervals for the
    * per-type mean event value, the error-bar operator every metrics
    * pipeline needs at a scale where "draw n rows with replacement, 64
    * times" is impossible. The Poisson trick: each row's multiplicity in
    * replicate r is an independent Poisson(1) draw (the n→∞ limit of
    * Binomial(n, 1/n)), so a replicate is ONE weighted aggregate and all
    * 64 replicates ride a single scan with map-side combine — no shuffle
    * of resampled data, ever. Weights are DETERMINISTIC: a 6-hex uniform
    * → inverse CDF by integer thresholds, so any engine (and any re-run)
    * draws the same replicate universe — the q65 hash-split idiom lifted
    * to resampling. The md5 budget follows the q32 slicing discipline:
    * 13 digests per event (md5('bs|g|id'), g = r div 5), each sliced
    * into five 24-bit uniforms (slice r mod 5) — computed as a per-event
    * ARRAY before the 64-way explode, so hashing is 13/64ths of the
    * naive per-replicate-digest form (measured 5.1 s → 4.1 s at sf0.1;
    * the residual is the 64×-row explode volume itself, which IS the
    * operator — 64 logical resamples riding one scan).
    *
    * Exactness: weights and centi-values are exact int64 (Σw·x ≤ 6·50000·
    * 10⁵ rows ≈ 3·10¹³ at sf0.1); each replicate mean reports through
    * ratio6's exact integer rounding (inheriting ratio6's value ≥ 0
    * PRECONDITION: negative replicate sums — refunds — would split
    * Spark's toward-zero div from DuckDB's flooring //), and the CI
    * picks order statistics
    * 2 and 63 of the 64 replicate means (nearest discrete cover of a 95%
    * percentile interval; ordering on the ROUNDED mean with replicate-id
    * tiebreak is a total order both engines share).
    *
    * Plan: scan → 13-digest array → 64-way explode (row inflation happens
    * BEFORE the shuffle and combines map-side into 5·64 groups) → one
    * 320-row rank window → 5-row join with the un-resampled estimate.
    */
  val q164BootstrapCi = Q(
    "q164_bootstrap_ci",
    s"""WITH e AS (
      |  SELECT event_type, event_id,
      |    CAST(round(100 * value) AS BIGINT) AS x
      |  FROM events WHERE value IS NOT NULL
      |),
      |est AS (
      |  SELECT event_type, count(*) AS n,
      |    ${Exact.Sql.ratio6Big("sum(x)", "100 * count(*)")} AS est
      |  FROM e GROUP BY event_type
      |),
      |dg AS (
      |  SELECT event_type, x,
      |    list_transform(range(0, ${(BootstrapR + 4) / 5}),
      |      g -> md5('bs|' || CAST(g AS VARCHAR) || '|'
      |        || CAST(event_id AS VARCHAR))) AS digs
      |  FROM e
      |),
      |w AS (
      |  SELECT event_type, r, x,
      |    CASE
      |      WHEN u < ${PoissonCdf16M(0)} THEN 0 WHEN u < ${PoissonCdf16M(1)} THEN 1
      |      WHEN u < ${PoissonCdf16M(2)} THEN 2 WHEN u < ${PoissonCdf16M(3)} THEN 3
      |      WHEN u < ${PoissonCdf16M(4)} THEN 4 WHEN u < ${PoissonCdf16M(5)} THEN 5
      |      ELSE 6 END AS w
      |  FROM (
      |    SELECT dg.event_type, dg.x, r.r,
      |      CAST(('0x' || substr(digs[(r.r // 5) + 1],
      |        (r.r % 5) * 6 + 1, 6)) AS BIGINT) AS u
      |    FROM dg CROSS JOIN (SELECT unnest(range(0, $BootstrapR)) AS r) r) t
      |),
      |rep AS (
      |  SELECT event_type, r,
      |    ${Exact.Sql.ratio6Big("sum(w * x)", "100 * sum(w)")} AS mean_r
      |  FROM w GROUP BY event_type, r
      |),
      |rk AS (
      |  SELECT event_type, mean_r,
      |    row_number() OVER (PARTITION BY event_type
      |      ORDER BY mean_r NULLS FIRST, r) AS rk
      |  FROM rep
      |)
      |SELECT est.event_type, CAST(est.n AS BIGINT) AS n, est.est,
      |  lo.mean_r AS ci_lo, hi.mean_r AS ci_hi
      |FROM est
      |JOIN rk lo ON lo.event_type = est.event_type AND lo.rk = 2
      |JOIN rk hi ON hi.event_type = est.event_type AND hi.rk = ${BootstrapR - 1}
      |ORDER BY est.event_type NULLS FIRST""".stripMargin,
  ) { (s, d) =>
    val e = Tables.events(s, d).filter(col("value").isNotNull)
      .select(col("event_type"), col("event_id"),
        expr("CAST(round(100 * value) AS BIGINT)").as("x"))
    val est = e.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"))
      .select(col("event_type"), col("n").cast("long").as("n"),
        Exact.ratio6Big("sx", "100 * n").as("est")) // ratio6Big: cent sum (r16 audit)
    val cdf = PoissonCdf16M
    val nDigs = (BootstrapR + 4) / 5
    // the 13 digests are an ARRAY built once per event, BEFORE the 64-way
    // explode — each replicate row then just slices (q32's md5 budget
    // discipline; naive per-(event, r) digests benched 5.1 s vs 4.1 s —
    // the rest is explode row volume, i.e. the resampling itself)
    val u = conv(expr(
      "substr(element_at(digs, CAST(r div 5 AS INT) + 1), " +
        "CAST((r % 5) * 6 + 1 AS INT), 6)"), 16, 10).cast("long")
    // r21: the 13-digest md5 + 64-way explode + weight chain all fuse into
    // the SCAN stage (single-split input → ONE core; q164 measured the
    // same 4.4 s at 8 and 32 cores). Fan the 600k narrow base rows once —
    // cheap exchange, 32-way resampling (guide §2.6/§6; Fan.scala).
    val rep = Fan.fan(e)
      .select(col("event_type"), col("x"),
        array((0 until nDigs).map(g => md5(concat(lit(s"bs|$g|"),
          col("event_id").cast("string")))): _*).as("digs"))
      .select(col("event_type"), col("x"), col("digs"),
        explode(sequence(lit(0), lit(BootstrapR - 1))).as("r"))
      .withColumn("w",
        when(u < cdf(0), 0L).when(u < cdf(1), 1L).when(u < cdf(2), 2L)
          .when(u < cdf(3), 3L).when(u < cdf(4), 4L).when(u < cdf(5), 5L)
          .otherwise(6L))
      .groupBy(col("event_type"), col("r"))
      .agg(sum(col("w") * col("x")).as("swx"), sum(col("w")).as("sw"))
      .select(col("event_type"), col("r"),
        Exact.ratio6Big("swx", "100 * sw").as("mean_r")) // ratio6Big: weighted cent sum (r16 audit)
    // a near-empty type can draw Σw = 0 for some replicate → NULL mean_r;
    // EXPLICIT nulls-first ordering keeps the rank assignment identical
    // cross-engine (Spark ASC defaults to NULLS FIRST, DuckDB to NULLS
    // LAST — a silent CI divergence on degenerate arms otherwise). A
    // NULL-bounded CI is the honest verdict for an arm too small to
    // resample (EdgeEventsSpec pins this).
    val rk = rep.withColumn("rk", row_number().over(
      Window.partitionBy(col("event_type"))
        .orderBy(col("mean_r").asc_nulls_first, col("r"))))
    est
      .join(rk.filter(col("rk") === 2)
        .select(col("event_type"), col("mean_r").as("ci_lo")), "event_type")
      .join(rk.filter(col("rk") === BootstrapR - 1)
        .select(col("event_type"), col("mean_r").as("ci_hi")), "event_type")
      .orderBy(col("event_type"))
  }

  /** CALIBRATION BACKTEST + BRIER SCORE — does yesterday's rate predict
    * tomorrow? The corpus splits at its temporal midpoint; users are
    * deciled by FIRST-half activity (ntile(10), heaviest first, user_id
    * tiebreak), each decile's first-half heavy-purchaser rate (≥ 8
    * purchase events in the half) becomes its FORECAST, and the decile's
    * second-half rate is the OUTCOME. The reliability table (pred vs
    * actual per decile) plus the per-decile Brier score — mean squared
    * error of the constant forecast against the binary outcomes — is the
    * standard scoring rule for probabilistic predictions.
    *
    * Exactness: the forecast lives as the ratio6 INTEGER micro-rate
    * pµ = (2·x₁·10⁶ + n) div (2n), so the Brier numerator collapses to
    * pure int64 algebra: Σ(pµ − y·10⁶)² = n·pµ² − 2·10⁶·pµ·x₂ + 10¹²·x₂
    * (≤ 10¹⁶ at sf0.1 — its int64→double cast is identical cross-engine),
    * closed by one fixed-order double division. Users with no first-half
    * events have no forecast basis and are excluded before the ntile —
    * deterministic in both engines.
    *
    * Plan: ONE conditional per-user aggregate carries both halves (2
    * scans total with the midpoint probe — the q177 shape), ONE
    * user-count-sized ntile window (the q161/q169 shard note applies at
    * 10⁹ users), a 10-row finish. First-half users with silent second
    * halves keep y = 0 — churned, not dropped.
    */
  val q174CalibrationBrier = Q(
    "q174_calibration_brier",
    s"""WITH b AS (
      |  SELECT (min(epoch_us(CAST(ts AS TIMESTAMP)))
      |    + max(epoch_us(CAST(ts AS TIMESTAMP)))) // 2 AS mid
      |  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
      |),
      |h AS (
      |  SELECT user_id,
      |    sum(CASE WHEN epoch_us(CAST(ts AS TIMESTAMP)) <= b.mid
      |        THEN 1 ELSE 0 END) AS s1,
      |    sum(CASE WHEN epoch_us(CAST(ts AS TIMESTAMP)) <= b.mid
      |          AND event_type = 'purchase' THEN 1 ELSE 0 END) AS p1,
      |    sum(CASE WHEN epoch_us(CAST(ts AS TIMESTAMP)) > b.mid
      |          AND event_type = 'purchase' THEN 1 ELSE 0 END) AS p2
      |  FROM events, b
      |  WHERE ts IS NOT NULL AND user_id IS NOT NULL
      |  GROUP BY user_id
      |),
      |d AS (
      |  SELECT user_id,
      |    ntile(10) OVER (ORDER BY s1 DESC, user_id) AS decile,
      |    CASE WHEN p1 >= 8 THEN 1 ELSE 0 END AS c1,
      |    CASE WHEN p2 >= 8 THEN 1 ELSE 0 END AS y
      |  FROM h WHERE s1 > 0
      |),
      |g AS (
      |  SELECT decile, count(*) AS n, sum(c1) AS x1, sum(y) AS x2
      |  FROM d GROUP BY decile
      |),
      |p AS (
      |  SELECT decile, n, x1, x2,
      |    (2 * CAST(x1 AS BIGINT) * 1000000 + CAST(n AS BIGINT))
      |      // (2 * CAST(n AS BIGINT)) AS pmu
      |  FROM g
      |)
      |SELECT CAST(decile AS INTEGER) AS decile, CAST(n AS BIGINT) AS n,
      |  CAST(x1 AS BIGINT) AS x1, CAST(x2 AS BIGINT) AS x2,
      |  CAST(pmu AS DOUBLE) / 1000000.0 AS pred,
      |  ${Exact.Sql.ratio6("x2", "n")} AS actual,
      |  round(CAST(CAST(n AS BIGINT) * pmu * pmu
      |      - 2 * 1000000 * pmu * CAST(x2 AS BIGINT)
      |      + 1000000000000 * CAST(x2 AS BIGINT) AS DOUBLE)
      |    / 1000000000000.0 / CAST(n AS DOUBLE), 6) AS brier
      |FROM p
      |ORDER BY decile NULLS FIRST""".stripMargin,
  ) { (s, d) =>
    val ev = Tables.events(s, d)
      .filter(col("ts").isNotNull && col("user_id").isNotNull)
      .select(col("user_id"), col("event_type"),
        expr("unix_micros(ts)").as("us"))
    val b = ev.agg(expr("(min(us) + max(us)) div 2").as("mid"))
    // ONE conditional aggregate carries both halves (2 scans total
    // including the midpoint probe, not 3) — the q177 shape; users with
    // no first-half activity have no forecast basis and drop pre-ntile
    val h = ev.crossJoin(broadcast(b))
      .groupBy(col("user_id"))
      .agg(sum(when(col("us") <= col("mid"), 1).otherwise(0)).as("s1"),
        sum(when(col("us") <= col("mid")
          && col("event_type") === "purchase", 1).otherwise(0)).as("p1"),
        sum(when(col("us") > col("mid")
          && col("event_type") === "purchase", 1).otherwise(0)).as("p2"))
      .filter(col("s1") > 0)
      // pinned: the ntilePar dispatch probe is a SEPARATE action — without
      // the pin the events scan + user aggregate runs twice (§5.7 pin rule)
      .transform(graft.operators.Iter.pin)
    // decile via the scale-parallel closed-form ntile (r17 — the global
    // Window.orderBy sorted every user in one task)
    val ddf = ntilePar(h, 10, "s1", desc = true, Seq("user_id"))
      .select(col("user_id"), col("tile").as("decile"),
        when(col("p1") >= 8, 1).otherwise(0).as("c1"),
        when(col("p2") >= 8, 1).otherwise(0).as("y"))
    ddf.groupBy(col("decile"))
      .agg(count(lit(1)).as("n"), sum(col("c1")).as("x1"),
        sum(col("y")).as("x2"))
      .withColumn("pmu",
        expr("(2 * x1 * 1000000 + n) div (2 * n)"))
      .select(col("decile"), col("n").cast("long").as("n"),
        col("x1").cast("long").as("x1"), col("x2").cast("long").as("x2"),
        (col("pmu").cast("double") / 1000000.0).as("pred"),
        Exact.ratio6("x2", "n").as("actual"),
        round(expr(
          """CAST(n * pmu * pmu - 2 * 1000000 * pmu * x2
            |  + 1000000000000 * x2 AS DOUBLE)
            |  / 1000000000000.0 / CAST(n AS DOUBLE)""".stripMargin), 6)
          .as("brier"))
      .orderBy(col("decile"))
  }

  /** CUPED VARIANCE REDUCTION — the modern experimentation workhorse
    * (Deng et al.'s Controlled-experiment Using Pre-Experiment Data):
    * each user's experiment-period metric y is adjusted by their
    * pre-period covariate x, ŷ = y − θ(x − x̄), with θ = cov(x,y)/var(x)
    * fitted on the POOLED population — removing the between-user variance
    * x predicts and shrinking the A/B confidence interval at zero bias
    * (E[ŷ] = E[y] because the adjustment is mean-zero). Here: the corpus
    * splits at its temporal midpoint (the q174 device), x = first-half
    * per-user spend, y = second-half spend, arms = the q154 md5 parity.
    * Output per arm: raw and adjusted means, plus the pooled θ and the
    * variance-reduction ratio 1 − ρ² (what fraction of metric variance
    * the covariate removed — the experiment-sensitivity win).
    *
    * Exactness: per-user totals are exact cents floored to whole DOLLARS
    * ((cents div 100) — the int64 headroom dial: dollar-scaled Σxy and
    * n·Σxy stay ≤ 2.5·10¹⁷ at sf0.1 where cents would overflow at ×100
    * scale; PRECONDITION value ≥ 0 — on negative per-user totals Spark's
    * div truncates toward zero while DuckDB's // floors, so a refunds
    * fixture would drift the dollar floor cross-engine); all five moment
    * sums are exact int64; θ, ρ², and the
    * adjusted means are the q155 fixed-order double finish over exact
    * casts, nullif-guarded for degenerate variance.
    *
    * Plan: ONE conditional per-user aggregate carries both halves (plus
    * the 1-row midpoint probe), one 5-moment pooled aggregate (1 row,
    * broadcast back), one 2-row arm aggregate. Nothing wider than the
    * per-user aggregate ever shuffles.
    */
  val q177Cuped = Q(
    "q177_cuped",
    s"""WITH b AS (
      |  SELECT (min(epoch_us(CAST(ts AS TIMESTAMP)))
      |    + max(epoch_us(CAST(ts AS TIMESTAMP)))) // 2 AS mid
      |  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
      |),
      |u AS (
      |  SELECT user_id,
      |    CAST(('0x' || substr(md5('ab|' || CAST(user_id AS VARCHAR)), 1, 1))
      |      AS BIGINT) % 2 AS variant,
      |    sum(CASE WHEN epoch_us(CAST(ts AS TIMESTAMP)) <= b.mid
      |          AND value IS NOT NULL
      |        THEN CAST(round(100 * value) AS BIGINT) ELSE 0 END)
      |      // 100 AS x,
      |    sum(CASE WHEN epoch_us(CAST(ts AS TIMESTAMP)) > b.mid
      |          AND value IS NOT NULL
      |        THEN CAST(round(100 * value) AS BIGINT) ELSE 0 END)
      |      // 100 AS y
      |  FROM events, b
      |  WHERE ts IS NOT NULL AND user_id IS NOT NULL
      |  GROUP BY user_id, b.mid
      |),
      |m AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
      |    CAST(sum(x * x) AS BIGINT) AS sxx,
      |    CAST(sum(x * y) AS BIGINT) AS sxy,
      |    CAST(sum(y * y) AS BIGINT) AS syy
      |  FROM u
      |),
      |th AS (
      |  SELECT n, sx, sy,
      |    (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
      |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |      / nullif(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0) AS theta,
      |    (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
      |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |    * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
      |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |    / nullif((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |      * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
      |        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)), 0) AS rho2
      |  FROM m
      |),
      |arm AS (
      |  SELECT variant, CAST(count(*) AS BIGINT) AS n_arm,
      |    CAST(sum(x) AS BIGINT) AS ax, CAST(sum(y) AS BIGINT) AS ay
      |  FROM u GROUP BY variant
      |)
      |SELECT CAST(arm.variant AS BIGINT) AS variant, arm.n_arm,
      |  ${Exact.Sql.ratio6Big("arm.ay", "arm.n_arm")} AS mean_y,
      |  round(CAST(arm.ay AS DOUBLE) / CAST(arm.n_arm AS DOUBLE)
      |    - th.theta * (CAST(arm.ax AS DOUBLE) / CAST(arm.n_arm AS DOUBLE)
      |      - CAST(th.sx AS DOUBLE) / CAST(th.n AS DOUBLE)), 6)
      |    AS mean_y_adj,
      |  round(th.theta, 6) AS theta,
      |  round(th.rho2, 6) AS var_reduction
      |FROM arm, th
      |ORDER BY variant NULLS FIRST""".stripMargin,
  ) { (s, d) =>
    val ev = Tables.events(s, d)
      .filter(col("ts").isNotNull && col("user_id").isNotNull)
      .select(col("user_id"), col("value"), expr("unix_micros(ts)").as("us"))
    val b = ev.agg(expr("(min(us) + max(us)) div 2").as("mid"))
    val u = ev.crossJoin(broadcast(b))
      .groupBy(col("user_id"))
      .agg(
        expr("""sum(CASE WHEN us <= mid AND value IS NOT NULL
          THEN CAST(round(100 * value) AS BIGINT) ELSE 0 END) div 100""")
          .as("x"),
        expr("""sum(CASE WHEN us > mid AND value IS NOT NULL
          THEN CAST(round(100 * value) AS BIGINT) ELSE 0 END) div 100""")
          .as("y"))
      .withColumn("variant",
        conv(substring(md5(concat(lit("ab|"), col("user_id").cast("string"))),
          1, 1), 16, 10).cast("long") % 2)
    val m = u.agg(count(lit(1)).cast("long").as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("y") * col("y")).as("syy"))
    val covN = """(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
      |  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))""".stripMargin
    val varX = """(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      |  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))""".stripMargin
    val varY = """(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
      |  - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))""".stripMargin
    val th = m.select(col("n"), col("sx"),
      expr(s"$covN / nullif($varX, CAST(0 AS DOUBLE))").as("theta"),
      expr(s"$covN * $covN / nullif($varX * $varY, CAST(0 AS DOUBLE))")
        .as("rho2"))
    val arm = u.groupBy(col("variant"))
      .agg(count(lit(1)).cast("long").as("n_arm"),
        sum(col("x")).as("ax"), sum(col("y")).as("ay"))
    arm.crossJoin(broadcast(th))
      .select(col("variant").cast("long").as("variant"), col("n_arm"),
        Exact.ratio6Big("ay", "n_arm").as("mean_y"), // Big: cent sum (r16 audit),
        round(col("ay").cast("double") / col("n_arm").cast("double")
          - col("theta") * (col("ax").cast("double")
              / col("n_arm").cast("double")
            - col("sx").cast("double") / col("n").cast("double")), 6)
          .as("mean_y_adj"),
        round(col("theta"), 6).as("theta"),
        round(col("rho2"), 6).as("var_reduction"))
      .orderBy(col("variant"))
  }

  // mSPRT mixture prior scale: τ = 50 cents on the effect-size axis —
  // a FIXED constant (not data-derived) so both engines share it exactly.
  private val MsprtTau2 = 2500.0

  /** ALWAYS-VALID SEQUENTIAL A/B TEST (mSPRT) — the modern experiment
    * monitor q154's fixed-horizon z-test cannot be: peeking at a classic
    * test inflates false positives, while the mixture sequential
    * probability ratio test (Johari et al.'s always-valid inference)
    * yields a p-value that is valid at EVERY daily look simultaneously —
    * stop whenever it crosses α, no peeking penalty. Per daily look t
    * over cumulative per-arm event values (q154's md5-parity arms):
    *
    *   Λ_t = √(V_t/(V_t+τ²)) · exp(θ̂²·τ² / (2·V_t·(V_t+τ²))),
    *   p_t = min over looks ≤ t of min(1, 1/Λ)   (monotone by construction)
    *
    * with θ̂ the cumulative mean difference, V_t = s²·(1/n₁+1/n₂) from
    * the pooled cumulative variance, τ² a FIXED mixture scale.
    *
    * Exactness: cumulative (n, Σx, Σx²) per (arm, day) are exact int64
    * (Σx² ≤ 2.5·10¹⁶ at sf0.1; the ×100-scale dial is dollar-flooring,
    * q177's note); every double step is one fixed-order expression over
    * their casts; √ is IEEE-correctly-rounded (no cast needed) and the
    * lone libm exp goes through the FLOAT cast (q189's device). The
    * running minimum is a window MIN over already-identical doubles.
    * Degenerate looks (an arm below 2 users of data, zero variance)
    * yield NULL through nullif on both engines, never a crash.
    *
    * Plan: one scan → (arm, day) exact-moment aggregate (≤ 2·days rows),
    * a dense day×arm grid (q124's device), cumulative windows over ≤31
    * rows per arm, a ≤31-row finish. Nothing event-proportional past the
    * first map-side-combined aggregate — the always-valid monitor runs
    * on bounded state no matter the traffic.
    *
    * PRECONDITION ts ≥ 1970-01-01: day buckets divide RAW epoch µs with
    * Spark `div` (truncates toward zero) vs DuckDB `//` (floors) —
    * identical only for non-negative numerators (SURVEY §5.7). The
    * events fixture satisfies it; pre-epoch corpora would need the pmod
    * floor idiom.
    */
  val q192Msprt = Q(
    "q192_msprt",
    s"""WITH e AS (
      |  SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
      |    CAST(('0x' || substr(md5('ab|' || CAST(user_id AS VARCHAR)), 1, 1))
      |      AS BIGINT) % 2 AS variant,
      |    CAST(round(100 * value) AS BIGINT) AS x
      |  FROM events
      |  WHERE ts IS NOT NULL AND user_id IS NOT NULL AND value IS NOT NULL
      |),
      |g AS (
      |  SELECT variant, day, count(*) AS cnt, sum(x) AS s, sum(x * x) AS q
      |  FROM e GROUP BY 1, 2
      |),
      |grid AS (
      |  SELECT d.day, v.variant FROM
      |    (SELECT DISTINCT day FROM g) d,
      |    (SELECT unnest([0, 1]) AS variant) v
      |),
      |c AS (
      |  SELECT grid.day, grid.variant,
      |    sum(COALESCE(g.cnt, 0)) OVER w AS n,
      |    sum(COALESCE(g.s, 0)) OVER w AS s,
      |    sum(COALESCE(g.q, 0)) OVER w AS q
      |  FROM grid LEFT JOIN g
      |    ON grid.day = g.day AND grid.variant = g.variant
      |  WINDOW w AS (PARTITION BY grid.variant ORDER BY grid.day
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |),
      |p AS (
      |  SELECT day,
      |    max(CASE WHEN variant = 0 THEN n END) AS n1,
      |    max(CASE WHEN variant = 0 THEN s END) AS s1,
      |    max(CASE WHEN variant = 0 THEN q END) AS q1,
      |    max(CASE WHEN variant = 1 THEN n END) AS n2,
      |    max(CASE WHEN variant = 1 THEN s END) AS s2,
      |    max(CASE WHEN variant = 1 THEN q END) AS q2
      |  FROM c GROUP BY day
      |),
      |f AS (
      |  SELECT day, n1, n2,
      |    CAST(s1 AS DOUBLE) / nullif(CAST(n1 AS DOUBLE), 0)
      |      - CAST(s2 AS DOUBLE) / nullif(CAST(n2 AS DOUBLE), 0) AS theta,
      |    ((CAST(q1 AS DOUBLE)
      |        - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
      |          / nullif(CAST(n1 AS DOUBLE), 0))
      |      + (CAST(q2 AS DOUBLE)
      |        - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE)
      |          / nullif(CAST(n2 AS DOUBLE), 0)))
      |      / nullif(CAST(n1 + n2 - 2 AS DOUBLE), 0)
      |      * (CAST(n1 + n2 AS DOUBLE)
      |        / nullif(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE), 0)) AS v
      |  FROM p
      |),
      |l AS (
      |  SELECT day, n1, n2, theta,
      |    sqrt(v / (v + $MsprtTau2))
      |      * CAST(exp(theta * theta * $MsprtTau2
      |          / nullif(2 * v * (v + $MsprtTau2), 0)) AS FLOAT) AS lambda
      |  FROM f
      |),
      |r AS (
      |  SELECT day, n1, n2, theta,
      |    min(least(CAST(1.0 AS DOUBLE), 1.0 / nullif(lambda, 0)))
      |      OVER (ORDER BY day
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p_av
      |  FROM l
      |)
      |SELECT CAST(day AS BIGINT) AS day,
      |  CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
      |  round(theta, 6) AS theta, round(p_av, 6) AS p_always_valid,
      |  CASE p_av < 0.05
      |    WHEN true THEN 'reject' WHEN false THEN 'continue' END
      |    AS rejected
      |FROM r
      |ORDER BY day NULLS FIRST""".stripMargin,
  ) { (s, d) =>
    val e = Tables.events(s, d)
      .filter(col("ts").isNotNull && col("user_id").isNotNull
        && col("value").isNotNull)
      .select(expr("unix_micros(ts) div 86400000000").as("day"),
        (conv(substring(md5(concat(lit("ab|"), col("user_id").cast("string"))),
          1, 1), 16, 10).cast("long") % 2).as("variant"),
        expr("CAST(round(100 * value) AS BIGINT)").as("x"))
    val g = e.groupBy(col("variant"), col("day"))
      .agg(count(lit(1)).as("cnt"), sum(col("x")).as("s"),
        sum(col("x") * col("x")).as("q"))
    val grid = g.select(col("day")).distinct()
      .crossJoin(broadcast(s.range(0, 2).select(col("id").as("variant"))))
    val w = Window.partitionBy(col("variant")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val c = grid.join(g, Seq("day", "variant"), "left")
      .select(col("day"), col("variant"),
        sum(coalesce(col("cnt"), lit(0L))).over(w).as("n"),
        sum(coalesce(col("s"), lit(0L))).over(w).as("s"),
        sum(coalesce(col("q"), lit(0L))).over(w).as("q"))
    val p = c.groupBy(col("day"))
      .agg(max(when(col("variant") === 0, col("n"))).as("n1"),
        max(when(col("variant") === 0, col("s"))).as("s1"),
        max(when(col("variant") === 0, col("q"))).as("q1"),
        max(when(col("variant") === 1, col("n"))).as("n2"),
        max(when(col("variant") === 1, col("s"))).as("s2"),
        max(when(col("variant") === 1, col("q"))).as("q2"))
    val f = p.select(col("day"), col("n1"), col("n2"),
      expr("""CAST(s1 AS DOUBLE) / nullif(CAST(n1 AS DOUBLE), CAST(0 AS DOUBLE))
        - CAST(s2 AS DOUBLE) / nullif(CAST(n2 AS DOUBLE), CAST(0 AS DOUBLE))""")
        .as("theta"),
      expr(s"""((CAST(q1 AS DOUBLE)
          - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
            / nullif(CAST(n1 AS DOUBLE), CAST(0 AS DOUBLE)))
        + (CAST(q2 AS DOUBLE)
          - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE)
            / nullif(CAST(n2 AS DOUBLE), CAST(0 AS DOUBLE))))
        / nullif(CAST(n1 + n2 - 2 AS DOUBLE), CAST(0 AS DOUBLE))
        * (CAST(n1 + n2 AS DOUBLE)
          / nullif(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE),
                   CAST(0 AS DOUBLE)))""").as("v"))
    val l = f.select(col("day"), col("n1"), col("n2"), col("theta"),
      expr(s"""sqrt(v / (v + $MsprtTau2))
        * CAST(exp(theta * theta * $MsprtTau2
            / nullif(2 * v * (v + $MsprtTau2), CAST(0 AS DOUBLE)))
          AS FLOAT)""").as("lambda"))
    val rw = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, 0)
    l.select(col("day"), col("n1"), col("n2"), col("theta"),
        min(least(lit(1.0),
          lit(1.0) / nullif(col("lambda"), lit(0.0)))).over(rw).as("p_av"))
      .select(col("day").cast("long").as("day"),
        col("n1").cast("long").as("n1"), col("n2").cast("long").as("n2"),
        round(col("theta"), 6).as("theta"),
        round(col("p_av"), 6).as("p_always_valid"),
        // §5.7 nullable-boolean rule (r16): string verdict — λ = 0 rows
        // NULL p_av through nullif, so the flag must not be a bool
        when(col("p_av") < 0.05, lit("reject"))
          .when(col("p_av") >= 0.05, lit("continue")).as("rejected"))
      .orderBy(col("day"))
  }

  /** BENFORD FIRST-DIGIT AUDIT — the forensic data-quality screen: the
    * leading significant digit of genuine multi-scale monetary data
    * follows log10(1+1/d); fabricated or truncated feeds don't. Per digit
    * d ∈ 1..9 over order totals: observed count vs n·p_d and the χ²₍₈₎
    * statistic, flagged at the 99% critical value (20.090, a fixed
    * literal both engines share).
    *
    * Exactness: the digit comes from the CENTS integer's decimal string
    * (first char of CAST(cents AS string) — cents > 0 enforced), never
    * from float formatting, so extraction is engine-identical. p_d is one
    * float-cast ln over an exact small rational divided by a float-cast
    * ln(10) (the q131 libm discipline); each χ² term is a fixed-order
    * double chain over exact int64 counts; the total is a DECIMAL(18,9)
    * window sum (associative). A digit absent from the data still
    * contributes its full expectation via the dense 1..9 grid.
    *
    * Plan: one scan → 9-row count aggregate (map-side combined), a 9-row
    * grid join, a 9-row window — bounded state after the first aggregate
    * at any corpus size.
    */
  val q197BenfordAudit = Q(
    "q197_benford_audit",
    """WITH c AS (
      |  SELECT CAST(round(100 * o_totalprice) AS BIGINT) AS cents
      |  FROM orders WHERE o_totalprice IS NOT NULL
      |),
      |dg AS (
      |  SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS BIGINT) AS digit,
      |    count(*) AS obs
      |  FROM c WHERE cents > 0 GROUP BY 1
      |),
      |nn AS (SELECT CAST(sum(obs) AS BIGINT) AS n FROM dg),
      |grid AS (SELECT unnest(range(1, 10)) AS digit),
      |cell AS (
      |  SELECT g.digit, coalesce(dg.obs, 0) AS obs,
      |    CAST(CAST(ln((CAST(g.digit AS DOUBLE) + 1.0)
      |          / CAST(g.digit AS DOUBLE)) AS FLOAT) AS DOUBLE)
      |      / CAST(CAST(ln(10.0) AS FLOAT) AS DOUBLE) AS p,
      |    nn.n AS n
      |  FROM grid g LEFT JOIN dg ON dg.digit = g.digit, nn
      |),
      |t AS (
      |  SELECT digit, obs, p, n,
      |    (CAST(obs AS DOUBLE) - CAST(n AS DOUBLE) * p)
      |      * (CAST(obs AS DOUBLE) - CAST(n AS DOUBLE) * p)
      |      / (CAST(n AS DOUBLE) * p) AS contrib
      |  FROM cell
      |)
      |SELECT CAST(digit AS BIGINT) AS digit,
      |  CAST(obs AS BIGINT) AS observed,
      |  round(p, 6) AS benford_p,
      |  round(CAST(n AS DOUBLE) * p, 6) AS expected_n,
      |  round(contrib, 6) AS chi2_term,
      |  round(CAST(sum(CAST(contrib AS DECIMAL(18,9))) OVER () AS DOUBLE), 6)
      |    AS chi2,
      |  CASE CAST(sum(CAST(contrib AS DECIMAL(18,9))) OVER () AS DOUBLE)
      |      > 20.090
      |    WHEN true THEN 'suspicious' WHEN false THEN 'clean' END
      |    AS suspicious
      |FROM t
      |ORDER BY digit""".stripMargin,
  ) { (s, d) =>
    val c = Tables.orders(s, d)
      .filter(col("o_totalprice").isNotNull)
      .select(expr("CAST(round(100 * o_totalprice) AS BIGINT)").as("cents"))
      .filter(col("cents") > 0)
    val dg = c
      .select(expr("CAST(substring(CAST(cents AS STRING), 1, 1) AS BIGINT)")
        .as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("obs"))
    val nn = dg.agg(sum(col("obs")).cast("long").as("n"))
    val grid = s.range(1, 10).select(col("id").as("digit"))
    val w = Window.partitionBy() // 9 rows: the single partition is the point
    grid.join(dg, Seq("digit"), "left").crossJoin(broadcast(nn))
      .select(col("digit"), coalesce(col("obs"), lit(0L)).as("obs"),
        expr("""CAST(CAST(ln((CAST(digit AS DOUBLE) + 1.0)
          |    / CAST(digit AS DOUBLE)) AS FLOAT) AS DOUBLE)
          |  / CAST(CAST(ln(10.0) AS FLOAT) AS DOUBLE)""".stripMargin).as("p"),
        col("n"))
      .select(col("digit"), col("obs"), col("p"), col("n"),
        expr("""(CAST(obs AS DOUBLE) - CAST(n AS DOUBLE) * p)
          |  * (CAST(obs AS DOUBLE) - CAST(n AS DOUBLE) * p)
          |  / (CAST(n AS DOUBLE) * p)""".stripMargin).as("contrib"))
      .select(col("digit"), col("obs").as("observed"),
        round(col("p"), 6).as("benford_p"),
        round(expr("CAST(n AS DOUBLE) * p"), 6).as("expected_n"),
        round(col("contrib"), 6).as("chi2_term"),
        round(sum(expr("CAST(contrib AS DECIMAL(18,9))")).over(w)
          .cast("double"), 6).as("chi2"),
        // §5.7 nullable-boolean rule (r16): string verdict (empty-corpus
        // window sum is NULL → NULL verdict, never a nullable bool).
        when(sum(expr("CAST(contrib AS DECIMAL(18,9))")).over(w)
          .cast("double") > 20.090, lit("suspicious"))
          .when(sum(expr("CAST(contrib AS DECIMAL(18,9))")).over(w)
            .cast("double") <= 20.090, lit("clean")).as("suspicious"))
      .orderBy(col("digit"))
  }

  /** CONTINGENCY ASSOCIATION — the categorical-dependence profiler a
    * curation pipeline runs between any two metadata axes (here
    * lang × source): the full dense contingency table with, attached to
    * every cell, the table-level χ², Cramér's V, mutual information
    * (nats) and normalized MI — one operator answering "are these axes
    * independent, and how strongly not".
    *
    * Exactness: cell/margin counts are exact int64; each χ² term uses the
    * algebraic form (o·n − r·c)²/(n·r·c) — the numerator is an exact
    * int64 DIFFERENCE squared in doubles, denominators chain as separate
    * fixed-order divides (n·r·c as one int64 product would overflow near
    * 10⁹-row tables; the chained-divide form never does). The NUMERATOR
    * o·n − r·c is still int64 arithmetic: o can approach n, so o·n
    * approaches n², which stays in-range only while n ≤ ⌊√(2⁶³−1)⌋
    * ≈ 3.03e9 rows — the same validity bound q205 documents. Past it,
    * switch the numerator to the (o − e)² double form (e = r·c/n as
    * chained double divides) and accept one rounding in e. MI terms are
    * (o/n)·ln(o·n/(r·c)) with the float-cast ln; both totals are
    * DECIMAL(18,9) sums. Zero cells contribute their χ² expectation and
    * 0 to MI (the 0·ln 0 limit, stated EXPLICITLY via CASE on both
    * engines). Margin entropies for NMI use the same device; a
    * degenerate single-category axis yields H = 0 → NMI NULL via nullif,
    * and a 1×k table yields V NULL the same way.
    *
    * Plan: one scan → cell aggregate (≤ |langs|·|sources| rows), margin
    * aggregates, one broadcast-joined dense grid — everything past the
    * first map-side-combined aggregate is category-bounded, never
    * row-proportional.
    */
  val q200ContingencyAssoc = Q(
    "q200_contingency_assoc",
    """WITH base AS (
      |  SELECT lang, source FROM documents
      |  WHERE lang IS NOT NULL AND source IS NOT NULL
      |),
      |cellc AS (SELECT lang, source, count(*) AS o FROM base GROUP BY 1, 2),
      |rm AS (SELECT lang, count(*) AS r FROM base GROUP BY 1),
      |cm AS (SELECT source, count(*) AS c FROM base GROUP BY 1),
      |nn AS (SELECT CAST(count(*) AS BIGINT) AS n,
      |  CAST(count(DISTINCT lang) AS BIGINT) AS nr,
      |  CAST(count(DISTINCT source) AS BIGINT) AS nc FROM base),
      |cell AS (
      |  SELECT rm.lang, cm.source, coalesce(cc.o, 0) AS o, rm.r, cm.c,
      |    nn.n, nn.nr, nn.nc
      |  FROM rm CROSS JOIN cm
      |  LEFT JOIN cellc cc ON cc.lang = rm.lang AND cc.source = cm.source,
      |  nn
      |),
      |t AS (
      |  SELECT lang, source, o, r, c, n, nr, nc,
      |    CAST(o * n - r * c AS DOUBLE) * CAST(o * n - r * c AS DOUBLE)
      |      / CAST(n AS DOUBLE) / CAST(r AS DOUBLE) / CAST(c AS DOUBLE)
      |      AS chi2t,
      |    CASE WHEN o > 0 THEN
      |      (CAST(o AS DOUBLE) / CAST(n AS DOUBLE))
      |        * CAST(ln(CAST(o AS DOUBLE) * CAST(n AS DOUBLE)
      |            / CAST(r AS DOUBLE) / CAST(c AS DOUBLE)) AS FLOAT)
      |      ELSE CAST(0 AS DOUBLE) END AS mit
      |  FROM cell
      |),
      |tot AS (
      |  SELECT CAST(sum(CAST(chi2t AS DECIMAL(18,9))) AS DOUBLE) AS chi2,
      |    CAST(sum(CAST(mit AS DECIMAL(18,9))) AS DOUBLE) AS mi
      |  FROM t
      |),
      |hr AS (
      |  SELECT CAST(sum(CAST(
      |    -((CAST(r AS DOUBLE) / CAST(n.n AS DOUBLE))
      |      * CAST(ln(CAST(r AS DOUBLE) / CAST(n.n AS DOUBLE)) AS FLOAT))
      |    AS DECIMAL(18,9))) AS DOUBLE) AS h
      |  FROM rm, nn n
      |),
      |hc AS (
      |  SELECT CAST(sum(CAST(
      |    -((CAST(c AS DOUBLE) / CAST(n.n AS DOUBLE))
      |      * CAST(ln(CAST(c AS DOUBLE) / CAST(n.n AS DOUBLE)) AS FLOAT))
      |    AS DECIMAL(18,9))) AS DOUBLE) AS h
      |  FROM cm, nn n
      |)
      |SELECT t.lang, t.source, CAST(t.o AS BIGINT) AS observed,
      |  round(CAST(t.r AS DOUBLE) * CAST(t.c AS DOUBLE)
      |    / CAST(t.n AS DOUBLE), 6) AS expected,
      |  round(t.chi2t, 6) AS chi2_term,
      |  round(tot.chi2, 6) AS chi2,
      |  round(sqrt(tot.chi2 / nullif(CAST(t.n AS DOUBLE)
      |    * CAST(least(t.nr - 1, t.nc - 1) AS DOUBLE), 0.0)), 6)
      |    AS cramers_v,
      |  round(tot.mi, 6) AS mi_nats,
      |  round(tot.mi / nullif(sqrt(hr.h * hc.h), 0.0), 6) AS nmi
      |FROM t, tot, hr, hc
      |ORDER BY lang, source""".stripMargin,
  ) { (s, d) =>
    val base = Tables.documents(s, d)
      .filter(col("lang").isNotNull && col("source").isNotNull)
      .select(col("lang"), col("source"))
    val cellc = base.groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("o"))
    val rm = base.groupBy(col("lang")).agg(count(lit(1)).as("r"))
    val cm = base.groupBy(col("source")).agg(count(lit(1)).as("c"))
    val nn = base.agg(count(lit(1)).as("n"),
      countDistinct(col("lang")).as("nr"),
      countDistinct(col("source")).as("nc"))
    val cell = rm.crossJoin(cm)
      .join(cellc, Seq("lang", "source"), "left")
      .crossJoin(broadcast(nn))
      .select(col("lang"), col("source"),
        coalesce(col("o"), lit(0L)).as("o"),
        col("r"), col("c"), col("n"), col("nr"), col("nc"))
    val t = cell.select(col("lang"), col("source"), col("o"), col("r"),
      col("c"), col("n"), col("nr"), col("nc"),
      expr("""CAST(o * n - r * c AS DOUBLE) * CAST(o * n - r * c AS DOUBLE)
        |  / CAST(n AS DOUBLE) / CAST(r AS DOUBLE) / CAST(c AS DOUBLE)"""
        .stripMargin).as("chi2t"),
      expr("""CASE WHEN o > 0 THEN
        |  (CAST(o AS DOUBLE) / CAST(n AS DOUBLE))
        |    * CAST(ln(CAST(o AS DOUBLE) * CAST(n AS DOUBLE)
        |        / CAST(r AS DOUBLE) / CAST(c AS DOUBLE)) AS FLOAT)
        |  ELSE CAST(0 AS DOUBLE) END""".stripMargin).as("mit"))
      .transform(graft.operators.Iter.pin) // 2 consumers: totals and the per-cell output
    val tot = t.agg(
      sum(expr("CAST(chi2t AS DECIMAL(18,9))")).cast("double").as("chi2"),
      sum(expr("CAST(mit AS DECIMAL(18,9))")).cast("double").as("mi"))
    def entropy(m: DataFrame, cnt: String): DataFrame =
      m.crossJoin(broadcast(nn.select(col("n"))))
        .agg(sum(expr(
          s"""CAST(-((CAST($cnt AS DOUBLE) / CAST(n AS DOUBLE))
             |  * CAST(ln(CAST($cnt AS DOUBLE) / CAST(n AS DOUBLE))
             |      AS FLOAT)) AS DECIMAL(18,9))""".stripMargin))
          .cast("double").as("h"))
    val hr = entropy(rm, "r")
    val hcE = entropy(cm, "c")
    t.crossJoin(broadcast(tot))
      .crossJoin(broadcast(hr.select(col("h").as("h_r"))))
      .crossJoin(broadcast(hcE.select(col("h").as("h_c"))))
      .select(col("lang"), col("source"), col("o").cast("long").as("observed"),
        round(expr("CAST(r AS DOUBLE) * CAST(c AS DOUBLE) / CAST(n AS DOUBLE)"),
          6).as("expected"),
        round(col("chi2t"), 6).as("chi2_term"),
        round(col("chi2"), 6).as("chi2"),
        round(expr("""sqrt(chi2 / nullif(CAST(n AS DOUBLE)
          |  * CAST(least(nr - 1, nc - 1) AS DOUBLE), CAST(0 AS DOUBLE)))"""
          .stripMargin), 6).as("cramers_v"),
        round(col("mi"), 6).as("mi_nats"),
        round(expr(
          "mi / nullif(sqrt(h_r * h_c), CAST(0 AS DOUBLE))"), 6).as("nmi"))
      .orderBy(col("lang"), col("source"))
  }

  /** MASE FORECAST EVALUATION — the scale-free forecast scorecard
    * (Hyndman & Koehler's mean absolute scaled error): per event type,
    * score the hour-of-day profile forecast (predict each hour by the
    * mean of its hour-of-day over the span) against the seasonal-naive
    * scale (mean |x_t − x_{t−24}|). MASE < 1 ⇔ the profile beats naive
    * seasonal persistence — the go/no-go gate before any forecasting
    * model ships.
    *
    * Exactness: the dense hourly grid (the q193 device) makes both means
    * exact-int64-backed: the naive scale is a pure integer sum of
    * |x_t − x_{t−24}| over the window LAG; each profile error term is
    * |x·c_h − s_h|/c_h — one double divide of exact int64s — summed as
    * DECIMAL(18,9). The final MASE is a fixed-order double chain; a span
    * ≤ 24 h has no naive pairs → NULL via nullif, never a crash.
    *
    * PRECONDITION ts ≥ 1970-01-01: hour buckets divide RAW epoch µs
    * (Spark `div` truncates, DuckDB `//` floors — SURVEY §5.7).
    *
    * Plan: one scan → (type, hour) count aggregate, a span-bounded grid,
    * one 24-row-keyed profile join, windows over span-sized rows —
    * bounded by the time span, never event-proportional.
    */
  val q204MaseEval = Q(
    "q204_mase_eval",
    """WITH e AS (
      |  SELECT event_type,
      |    epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS m
      |  FROM events
      |  WHERE ts IS NOT NULL AND event_type IS NOT NULL
      |),
      |mc AS (SELECT event_type, m, count(*) AS cnt FROM e GROUP BY 1, 2),
      |b AS (SELECT event_type, min(m) AS m0, max(m) AS m1
      |      FROM mc GROUP BY 1),
      |grid AS (
      |  SELECT b.event_type, b.m0,
      |    unnest(range(0, b.m1 - b.m0 + 1)) AS t
      |  FROM b
      |),
      |x AS (
      |  SELECT g.event_type, g.t, (g.m0 + g.t) % 24 AS hod,
      |    COALESCE(mc.cnt, 0) AS x
      |  FROM grid g LEFT JOIN mc
      |    ON mc.event_type = g.event_type AND mc.m = g.m0 + g.t
      |),
      |hod AS (
      |  SELECT event_type, hod, CAST(sum(x) AS BIGINT) AS hs,
      |    CAST(count(*) AS BIGINT) AS hc
      |  FROM x GROUP BY 1, 2
      |),
      |lagd AS (
      |  SELECT event_type, t, hod, x,
      |    lag(x, 24) OVER (PARTITION BY event_type ORDER BY t) AS x24
      |  FROM x
      |),
      |terms AS (
      |  SELECT l.event_type,
      |    CAST(CAST(abs(l.x * h.hc - h.hs) AS DOUBLE)
      |      / CAST(h.hc AS DOUBLE) AS DECIMAL(18,9)) AS aerr,
      |    CASE WHEN l.x24 IS NULL THEN NULL
      |      ELSE abs(l.x - l.x24) END AS naive_err
      |  FROM lagd l JOIN hod h
      |    ON h.event_type = l.event_type AND h.hod = l.hod
      |),
      |agg AS (
      |  SELECT event_type,
      |    CAST(count(*) AS BIGINT) AS n_hours,
      |    sum(aerr) AS esum,
      |    CAST(sum(naive_err) AS BIGINT) AS ssum,
      |    CAST(count(naive_err) AS BIGINT) AS scnt
      |  FROM terms GROUP BY 1
      |)
      |SELECT event_type, n_hours,
      |  round(CAST(esum AS DOUBLE) / CAST(n_hours AS DOUBLE), 6) AS mae,
      |  round(CAST(ssum AS DOUBLE) / nullif(CAST(scnt AS DOUBLE), 0.0), 6)
      |    AS naive_mae,
      |  round((CAST(esum AS DOUBLE) / CAST(n_hours AS DOUBLE))
      |    / nullif(CAST(ssum AS DOUBLE) / nullif(CAST(scnt AS DOUBLE), 0.0),
      |             0.0), 6) AS mase
      |FROM agg
      |ORDER BY event_type""".stripMargin,
  ) { (s, d) =>
    val mc = Tables.events(s, d)
      .filter(col("ts").isNotNull && col("event_type").isNotNull)
      .select(col("event_type"),
        expr("unix_micros(ts) div 3600000000").as("m"))
      .groupBy(col("event_type"), col("m")).agg(count(lit(1)).as("cnt"))
    val grid = mc.groupBy(col("event_type"))
      .agg(min(col("m")).as("m0"), max(col("m")).as("m1"))
      .select(col("event_type").as("g_type"), col("m0"),
        explode(sequence(lit(0L), col("m1") - col("m0"))).as("t"))
    val x = grid.join(mc,
        col("g_type") === mc("event_type") && mc("m") === col("m0") + col("t"),
        "left")
      .select(col("g_type").as("event_type"), col("t"),
        ((col("m0") + col("t")) % 24).as("hod"),
        coalesce(col("cnt"), lit(0L)).as("x"))
      .transform(graft.operators.Iter.pin) // 2 consumers: the hod profile and the lag pass
    val hod = x.groupBy(col("event_type"), col("hod"))
      .agg(sum(col("x")).cast("long").as("hs"),
        count(lit(1)).cast("long").as("hc"))
    val lagd = x.withColumn("x24",
      lag(col("x"), 24).over(
        Window.partitionBy(col("event_type")).orderBy(col("t"))))
    val terms = lagd.join(hod, Seq("event_type", "hod"))
      .select(col("event_type"),
        expr("""CAST(CAST(abs(x * hc - hs) AS DOUBLE)
          |  / CAST(hc AS DOUBLE) AS DECIMAL(18,9))""".stripMargin)
          .as("aerr"),
        when(col("x24").isNull, lit(null))
          .otherwise(abs(col("x") - col("x24"))).as("naive_err"))
    terms.groupBy(col("event_type"))
      .agg(count(lit(1)).cast("long").as("n_hours"),
        sum(col("aerr")).as("esum"),
        sum(col("naive_err")).cast("long").as("ssum"),
        count(col("naive_err")).cast("long").as("scnt"))
      .select(col("event_type"), col("n_hours"),
        round(expr("CAST(esum AS DOUBLE) / CAST(n_hours AS DOUBLE)"), 6)
          .as("mae"),
        round(expr(
          "CAST(ssum AS DOUBLE) / nullif(CAST(scnt AS DOUBLE), CAST(0 AS DOUBLE))"),
          6).as("naive_mae"),
        round(expr(
          """(CAST(esum AS DOUBLE) / CAST(n_hours AS DOUBLE))
            |  / nullif(CAST(ssum AS DOUBLE)
            |      / nullif(CAST(scnt AS DOUBLE), CAST(0 AS DOUBLE)),
            |    CAST(0 AS DOUBLE))""".stripMargin), 6).as("mase"))
      .orderBy(col("event_type"))
  }

  /** COHEN'S KAPPA — chance-corrected inter-labeler agreement, the gate
    * before trusting any automated annotator: two cheap document-quality
    * labelers (character-length terciles vs token-count terciles, fixed
    * thresholds both engines share) scored against each other over the
    * full 3×3 dense confusion matrix, with the table-level observed
    * agreement p_o, chance agreement p_e, and κ attached to every cell.
    *
    * Exactness: κ's rational form (n·Σdiag − Σ rᵢcᵢ)/(n² − Σ rᵢcᵢ) keeps
    * EVERYTHING int64 until one final double divide — no probability
    * intermediates at all (n² ≤ 10¹⁸ holds to ~10⁹ labeled rows; past
    * that the two sides divide by n first in fixed-order doubles —
    * flagged, not needed). Perfect-chance degenerate tables (p_e = 1)
    * yield κ NULL via nullif on both engines.
    *
    * Plan: one scan → 9-cell aggregate (map-side combined); everything
    * after is a constant-size grid of literals — bounded state at any
    * corpus size.
    */
  val q205CohensKappa = Q(
    "q205_cohens_kappa",
    """WITH base AS (
      |  SELECT CASE WHEN length(text) < 200 THEN 'short'
      |    WHEN length(text) < 350 THEN 'medium' ELSE 'long' END AS a,
      |    CASE WHEN len(string_split(text, ' ')) < 35 THEN 'short'
      |      WHEN len(string_split(text, ' ')) < 60 THEN 'medium'
      |      ELSE 'long' END AS b
      |  FROM documents WHERE text IS NOT NULL
      |),
      |lab AS (SELECT unnest(['short', 'medium', 'long']) AS l),
      |cellc AS (SELECT a, b, count(*) AS cnt FROM base GROUP BY 1, 2),
      |cell AS (
      |  SELECT la.l AS a, lb.l AS b, coalesce(c.cnt, 0) AS cnt
      |  FROM lab la CROSS JOIN lab lb
      |  LEFT JOIN cellc c ON c.a = la.l AND c.b = lb.l
      |),
      |rm AS (SELECT a, CAST(sum(cnt) AS BIGINT) AS r FROM cell GROUP BY 1),
      |cm AS (SELECT b, CAST(sum(cnt) AS BIGINT) AS c FROM cell GROUP BY 1),
      |nn AS (SELECT CAST(sum(cnt) AS BIGINT) AS n,
      |  CAST(sum(CASE WHEN a = b THEN cnt ELSE 0 END) AS BIGINT) AS ag
      |  FROM cell),
      |pe AS (SELECT CAST(sum(rm.r * cm.c) AS BIGINT) AS pe_num
      |       FROM rm JOIN cm ON rm.a = cm.b)
      |SELECT cell.a AS label_a, cell.b AS label_b,
      |  CAST(cell.cnt AS BIGINT) AS cnt,
      |  rm.r AS row_tot, cm.c AS col_tot,
      |  round(CAST(nn.ag AS DOUBLE)
      |    / nullif(CAST(nn.n AS DOUBLE), 0.0), 6) AS po,
      |  round(CAST(pe.pe_num AS DOUBLE)
      |    / nullif(CAST(nn.n AS DOUBLE) * CAST(nn.n AS DOUBLE), 0.0), 6)
      |    AS pe,
      |  round(CAST(nn.n * nn.ag - pe.pe_num AS DOUBLE)
      |    / nullif(CAST(nn.n * nn.n - pe.pe_num AS DOUBLE), 0.0), 6)
      |    AS kappa
      |FROM cell, rm, cm, nn, pe
      |WHERE rm.a = cell.a AND cm.b = cell.b
      |ORDER BY label_a, label_b""".stripMargin,
  ) { (s, d) =>
    import s.implicits._
    val base = Tables.documents(s, d)
      .filter(col("text").isNotNull)
      .select(
        when(length(col("text")) < 200, "short")
          .when(length(col("text")) < 350, "medium")
          .otherwise("long").as("a"),
        when(size(split(col("text"), " ")) < 35, "short")
          .when(size(split(col("text"), " ")) < 60, "medium")
          .otherwise("long").as("b"))
    val lab = Seq("short", "medium", "long").toDF("l")
    val cellc = base.groupBy(col("a"), col("b")).agg(count(lit(1)).as("cnt"))
    val cell = lab.select(col("l").as("a"))
      .crossJoin(lab.select(col("l").as("b")))
      .join(cellc, Seq("a", "b"), "left")
      .select(col("a"), col("b"), coalesce(col("cnt"), lit(0L)).as("cnt"))
      .transform(graft.operators.Iter.pin) // 9 rows, 4 consumers (margins, totals, output)
    val rm = cell.groupBy(col("a")).agg(sum(col("cnt")).cast("long").as("r"))
    val cm = cell.groupBy(col("b")).agg(sum(col("cnt")).cast("long").as("c"))
    val nn = cell.agg(sum(col("cnt")).cast("long").as("n"),
      sum(when(col("a") === col("b"), col("cnt")).otherwise(0L))
        .cast("long").as("ag"))
    val pe = rm.join(cm, rm("a") === cm("b"))
      .agg(sum(col("r") * col("c")).cast("long").as("pe_num"))
    cell.join(broadcast(rm), "a").join(broadcast(cm), "b")
      .crossJoin(broadcast(nn)).crossJoin(broadcast(pe))
      .select(col("a").as("label_a"), col("b").as("label_b"),
        col("cnt"), col("r").as("row_tot"), col("c").as("col_tot"),
        // empty corpus: n = 0 → po/pe NULL on BOTH engines (ANSI
        // errors on a bare 0-divide; DuckDB would NaN — r17 audit)
        round(expr(
          "CAST(ag AS DOUBLE) / nullif(CAST(n AS DOUBLE), 0.0D)"), 6)
          .as("po"),
        round(expr(
          """CAST(pe_num AS DOUBLE)
            |  / nullif(CAST(n AS DOUBLE) * CAST(n AS DOUBLE), 0.0D)"""
            .stripMargin), 6)
          .as("pe"),
        round(expr(
          """CAST(n * ag - pe_num AS DOUBLE)
            |  / nullif(CAST(n * n - pe_num AS DOUBLE), CAST(0 AS DOUBLE))"""
            .stripMargin), 6).as("kappa"))
      .orderBy(col("label_a"), col("label_b"))
  }

  /** ISOTONIC REGRESSION (exact PAVA via the minimax characterization) —
    * monotone trend fitting, the calibration workhorse: per event type,
    * the least-squares NON-DECREASING fit to the daily mean order value,
    * computed relationally through the closed form
    * fit_i = max_{j≤i} min_{k≥i} mean(y[j..k]) — provably equal to the
    * pool-adjacent-violators solution, but expressed as joins + windows
    * instead of a sequential pool stack (the q193 philosophy: make the
    * recursion RELATIONAL).
    *
    * Exactness: every interval mean is ONE double divide of exact int64
    * prefix-sum differences (cents and counts); the min/max lattice
    * compares bit-identical doubles, so no accumulation happens at all —
    * the fit value IS one of the interval means, exactly. Rounding only
    * at presentation.
    *
    * PRECONDITION ts ≥ 1970-01-01 (raw epoch-µs day buckets, SURVEY
    * §5.7).
    *
    * Plan: one scan → (type, day) exact aggregate (≤ types·days rows),
    * then an O(days²) pair join per type — 900 rows per type on a 30-day
    * span, BOUNDED BY THE TIME GRID, never by event count. The quadratic
    * is in series length only: at 10⁴+ grid points the production dial is
    * per-partition PAVA over a sorted single pass (the sequential stack),
    * traded here for a fully declarative, oracle-able plan.
    */
  val q206IsotonicPava = Q(
    "q206_isotonic_pava",
    """WITH e AS (
      |  SELECT event_type,
      |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
      |    CAST(round(100 * value) AS BIGINT) AS cents
      |  FROM events
      |  WHERE ts IS NOT NULL AND value IS NOT NULL
      |    AND event_type IS NOT NULL
      |),
      |dayagg AS (
      |  SELECT event_type, day, CAST(sum(cents) AS BIGINT) AS s,
      |    CAST(count(*) AS BIGINT) AS c
      |  FROM e GROUP BY 1, 2
      |),
      |idx AS (
      |  SELECT event_type, day, s, c,
      |    row_number() OVER (PARTITION BY event_type ORDER BY day) AS i,
      |    CAST(sum(s) OVER (PARTITION BY event_type ORDER BY day) AS BIGINT)
      |      AS ps,
      |    CAST(sum(c) OVER (PARTITION BY event_type ORDER BY day) AS BIGINT)
      |      AS pc
      |  FROM dayagg
      |),
      |pairs AS (
      |  SELECT a.event_type, a.i AS j, b.i AS k,
      |    CAST(b.ps - (a.ps - a.s) AS DOUBLE)
      |      / CAST(b.pc - (a.pc - a.c) AS DOUBLE) AS m
      |  FROM idx a JOIN idx b
      |    ON a.event_type = b.event_type AND b.i >= a.i
      |),
      |suffmin AS (
      |  SELECT event_type, j, k,
      |    min(m) OVER (PARTITION BY event_type, j ORDER BY k DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sm
      |  FROM pairs
      |),
      |fit AS (
      |  SELECT event_type, k AS i, max(sm) AS f
      |  FROM suffmin GROUP BY 1, 2
      |)
      |SELECT idx.event_type, CAST(idx.day AS BIGINT) AS day,
      |  idx.c AS n,
      |  round(CAST(idx.s AS DOUBLE) / CAST(idx.c AS DOUBLE), 6) AS day_mean,
      |  round(fit.f, 6) AS iso_fit
      |FROM idx JOIN fit
      |  ON fit.event_type = idx.event_type AND fit.i = idx.i
      |ORDER BY idx.event_type, day""".stripMargin,
  ) { (s, d) =>
    val e = Tables.events(s, d)
      .filter(col("ts").isNotNull && col("value").isNotNull
        && col("event_type").isNotNull)
      .select(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("day"),
        expr("CAST(round(100 * value) AS BIGINT)").as("cents"))
    val dayagg = e.groupBy(col("event_type"), col("day"))
      .agg(sum(col("cents")).cast("long").as("s"),
        count(lit(1)).cast("long").as("c"))
    val wOrd = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val idx = dayagg.select(col("event_type"), col("day"), col("s"), col("c"),
        row_number().over(wOrd).as("i"),
        sum(col("s")).over(wOrd).cast("long").as("ps"),
        sum(col("c")).over(wOrd).cast("long").as("pc"))
      .transform(graft.operators.Iter.pin) // 2 consumers: the pair join (twice) and output
    val a = idx.select(col("event_type").as("a_type"), col("i").as("j"),
      col("s").as("a_s"), col("c").as("a_c"),
      col("ps").as("a_ps"), col("pc").as("a_pc"))
    val b = idx.select(col("event_type").as("b_type"), col("i").as("k"),
      col("ps").as("b_ps"), col("pc").as("b_pc"))
    val pairs = a.join(b,
        col("a_type") === col("b_type") && col("k") >= col("j"))
      .select(col("a_type").as("event_type"), col("j"), col("k"),
        expr("""CAST(b_ps - (a_ps - a_s) AS DOUBLE)
          |  / CAST(b_pc - (a_pc - a_c) AS DOUBLE)""".stripMargin).as("m"))
    val suffmin = pairs.select(col("event_type"), col("j"), col("k"),
      min(col("m")).over(
        Window.partitionBy(col("event_type"), col("j"))
          .orderBy(col("k").desc)
          .rowsBetween(Window.unboundedPreceding, 0)).as("sm"))
    val fit = suffmin.groupBy(col("event_type"), col("k").as("i"))
      .agg(max(col("sm")).as("f"))
    idx.join(fit, Seq("event_type", "i"))
      .select(col("event_type"), col("day").cast("long").as("day"),
        col("c").as("n"),
        round(expr("CAST(s AS DOUBLE) / CAST(c AS DOUBLE)"), 6)
          .as("day_mean"),
        round(col("f"), 6).as("iso_fit"))
      .orderBy(col("event_type"), col("day"))
  }
  /** MANN–WHITNEY U — the nonparametric two-sample test an experiment
    * pipeline reaches for when `value` is skewed and the Welch t (q162)
    * assumption set is suspect: users hash-split into two variants (the
    * q154/q65 md5-parity device, a pure function of user_id), and per
    * event type the rank-sum U of variant 0's event values is tested
    * against the no-shift null with the TIE-CORRECTED normal
    * approximation z² = 3·(2U − n₁n₂)² / (n₁n₂·[(N+1) − Σ(t³−t)/(N(N−1))]),
    * significant at χ²₍₁,0.05₎ = 3.8415. Complements q160 structurally —
    * same run-length midrank device, but as a TEST with tie-corrected
    * variance rather than a ranking metric.
    *
    * Exactness: midranks never materialize as fractions — mid2 = 2·midrank
    * stays integer via the run-length cumulative (q160's device), so
    * u2 = 2U₁ = Σcnt₁·mid2 − n₁(n₁+1) and the tie mass Σ(t³−t) are exact
    * int64; z² is a FIXED-ORDER chain of double ops over those integers.
    * Validity bounds (documented like q200/q205): (2U − n₁n₂)² needs
    * |2U − n₁n₂| ≤ n₁n₂ ≤ 3.03e9 to stay int64-exact — beyond ~55k×55k
    * arm sizes, square in doubles instead; Σ(t³−t) ≤ N³ bounds N ≤ 2.09e6
    * before the int64 cube overflows — beyond that, aggregate the tie
    * term in DECIMAL. Degenerate guards are EXPLICIT on both engines:
    * one-sided or single-observation samples (n₁·n₂ = 0 or N ≤ 1) and the
    * all-tied sample (tie term makes the bracket 0) yield NULL z², never
    * NaN — the CASE/nullif pair, not IEEE accident.
    *
    * Plan: one scan → (type, cents) run-length aggregate (map-side
    * combined, ≤ distinct-values rows per type), one category-bounded
    * window, one 5-row finish. Nothing row-proportional shuffles past the
    * first aggregate; at 100 TB the variant hash adds zero shuffle (it is
    * a projection), and the run-length table is |type|·|distinct cents|.
    */
  val q207MannWhitney = Q(
    "q207_mann_whitney",
    """WITH e AS (
      |  SELECT event_type,
      |    CAST(round(100 * value) AS BIGINT) AS cents,
      |    CAST(('0x' || substr(md5('mw|' || CAST(user_id AS VARCHAR)), 1, 1))
      |      AS BIGINT) % 2 AS variant
      |  FROM events
      |  WHERE value IS NOT NULL AND user_id IS NOT NULL
      |    AND event_type IS NOT NULL
      |),
      |runs AS (
      |  SELECT event_type, cents,
      |    CAST(count(*) AS BIGINT) AS cnt,
      |    CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS cnt1
      |  FROM e GROUP BY 1, 2
      |),
      |rk AS (
      |  SELECT event_type, cents, cnt, cnt1,
      |    2 * (sum(cnt) OVER (PARTITION BY event_type ORDER BY cents
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - cnt)
      |      + cnt + 1 AS mid2
      |  FROM runs
      |),
      |agg AS (
      |  SELECT event_type,
      |    CAST(sum(cnt1) AS BIGINT) AS n1,
      |    CAST(sum(cnt) - sum(cnt1) AS BIGINT) AS n2,
      |    CAST(sum(cnt) AS BIGINT) AS n,
      |    CAST(sum(cnt1 * mid2) - sum(cnt1) * (sum(cnt1) + 1) AS BIGINT)
      |      AS u2,
      |    CAST(sum(cnt * cnt * cnt - cnt) AS BIGINT) AS ties3
      |  FROM rk GROUP BY 1
      |)
      |SELECT event_type, n1, n2, u2,
      |  round(CASE WHEN n1 > 0 AND n2 > 0 AND n > 1 THEN
      |    CAST(3 AS DOUBLE)
      |      * CAST((u2 - n1 * n2) * (u2 - n1 * n2) AS DOUBLE)
      |      / nullif(CAST(n1 * n2 AS DOUBLE)
      |        * (CAST(n + 1 AS DOUBLE)
      |          - CAST(ties3 AS DOUBLE) / CAST(n * (n - 1) AS DOUBLE)),
      |        CAST(0 AS DOUBLE))
      |    ELSE NULL END, 6) AS z2,
      |  CASE (CASE WHEN n1 > 0 AND n2 > 0 AND n > 1 THEN
      |    CAST(3 AS DOUBLE)
      |      * CAST((u2 - n1 * n2) * (u2 - n1 * n2) AS DOUBLE)
      |      / nullif(CAST(n1 * n2 AS DOUBLE)
      |        * (CAST(n + 1 AS DOUBLE)
      |          - CAST(ties3 AS DOUBLE) / CAST(n * (n - 1) AS DOUBLE)),
      |        CAST(0 AS DOUBLE))
      |    ELSE NULL END) > 3.8415
      |    WHEN true THEN 'significant' WHEN false THEN 'ns' END
      |    AS significant
      |FROM agg
      |ORDER BY event_type""".stripMargin,
  ) { (s, d) =>
    val e = Tables.events(s, d)
      .filter(col("value").isNotNull && col("user_id").isNotNull
        && col("event_type").isNotNull)
      .select(col("event_type"),
        expr("CAST(round(100 * value) AS BIGINT)").as("cents"),
        (conv(substring(md5(concat(lit("mw|"),
          col("user_id").cast("string"))), 1, 1), 16, 10).cast("long") % 2)
          .as("variant"))
    val runs = e.groupBy(col("event_type"), col("cents"))
      .agg(count(lit(1)).cast("long").as("cnt"),
        sum(when(col("variant") === 0, 1L).otherwise(0L)).cast("long")
          .as("cnt1"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("cents"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val rk = runs.withColumn("mid2",
      lit(2) * (sum(col("cnt")).over(w) - col("cnt")) + col("cnt") + 1)
    val agg = rk.groupBy(col("event_type"))
      .agg(sum(col("cnt1")).cast("long").as("n1"),
        (sum(col("cnt")) - sum(col("cnt1"))).cast("long").as("n2"),
        sum(col("cnt")).cast("long").as("n"),
        (sum(col("cnt1") * col("mid2"))
          - sum(col("cnt1")) * (sum(col("cnt1")) + 1)).cast("long").as("u2"),
        sum(col("cnt") * col("cnt") * col("cnt") - col("cnt")).cast("long")
          .as("ties3"))
    val z2 = expr("""CASE WHEN n1 > 0 AND n2 > 0 AND n > 1 THEN
      |  CAST(3 AS DOUBLE)
      |    * CAST((u2 - n1 * n2) * (u2 - n1 * n2) AS DOUBLE)
      |    / nullif(CAST(n1 * n2 AS DOUBLE)
      |      * (CAST(n + 1 AS DOUBLE)
      |        - CAST(ties3 AS DOUBLE) / CAST(n * (n - 1) AS DOUBLE)),
      |      CAST(0 AS DOUBLE))
      |  ELSE NULL END""".stripMargin)
    agg.select(col("event_type"), col("n1"), col("n2"), col("u2"),
        round(z2, 6).as("z2"),
        // §5.7 nullable-boolean rule (r16): string verdict, NULL z2 → NULL
        when(z2 > 3.8415, lit("significant"))
          .when(z2 <= 3.8415, lit("ns")).as("significant"))
      .orderBy(col("event_type"))
  }
  /** KENDALL τ-b — the rank-correlation second opinion next to q163's
    * Spearman ρ: for every unordered pair of event types, correlate their
    * DAILY count series (dense calendar grid, empty days = 0 — the q204
    * device at day grain) by classifying every day PAIR as concordant,
    * discordant, or tied, with the τ-b tie correction
    * τ_b = (C − D) / √((n₀ − T_x)(n₀ − T_y)), n₀ = m(m−1)/2 day pairs,
    * T_x/T_y = pairs tied on that margin (both-tied counts in both).
    * Kendall is the pipeline's drift-robust choice: it is a pure function
    * of pairwise ORDER, so a monotone recalibration of either series
    * (log-scaling a counter, changing units) cannot move it.
    *
    * Exactness: everything up to τ is exact int64 counting — sign
    * classification of (Δx·Δy) on integer day counts, integer tie
    * tallies — and τ itself is ONE double division by one √ of an exact
    * int64 product, fixed-order both engines. A margin fully tied
    * (n₀ = T_x) zeroes the radicand → NULL via nullif, EXPLICIT on both
    * engines.
    *
    * Plan: the day-pair self-join is span²·|types|² on the CALENDAR
    * (30 days → 435 pairs × 10 type pairs), never row-proportional: raw
    * events collapse to the (type, day) aggregate (map-side combined)
    * before any join. At 100 TB the pair table is still ~10⁴ rows for a
    * month — the classic bounded-state series operator; a year-long span
    * (66k pairs/type-pair) still fits one partition.
    */
  val q208KendallTau = Q(
    "q208_kendall_tau",
    """WITH e AS (
      |  SELECT event_type,
      |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day
      |  FROM events
      |  WHERE ts IS NOT NULL AND event_type IS NOT NULL
      |),
      |dc AS (SELECT event_type, day, CAST(count(*) AS BIGINT) AS cnt
      |       FROM e GROUP BY 1, 2),
      |b AS (SELECT min(day) AS d0, max(day) AS d1 FROM e),
      |ty AS (SELECT DISTINCT event_type FROM e),
      |grid AS (
      |  SELECT ty.event_type, b.d0 + unnest(range(0, b.d1 - b.d0 + 1))
      |    AS day
      |  FROM ty CROSS JOIN b
      |),
      |x AS (
      |  SELECT g.event_type, g.day, COALESCE(dc.cnt, 0) AS c
      |  FROM grid g LEFT JOIN dc
      |    ON dc.event_type = g.event_type AND dc.day = g.day
      |),
      |pr AS (
      |  SELECT a.event_type AS ta, b2.event_type AS tb, a.day,
      |    a.c AS xa, b2.c AS ya
      |  FROM x a JOIN x b2
      |    ON a.day = b2.day AND a.event_type < b2.event_type
      |),
      |pp AS (
      |  SELECT p.ta, p.tb,
      |    CASE WHEN (p.xa - q.xa) * (p.ya - q.ya) > 0 THEN 1 ELSE 0 END
      |      AS con,
      |    CASE WHEN (p.xa - q.xa) * (p.ya - q.ya) < 0 THEN 1 ELSE 0 END
      |      AS dis,
      |    CASE WHEN p.xa = q.xa THEN 1 ELSE 0 END AS tx,
      |    CASE WHEN p.ya = q.ya THEN 1 ELSE 0 END AS tyy
      |  FROM pr p JOIN pr q
      |    ON p.ta = q.ta AND p.tb = q.tb AND p.day < q.day
      |),
      |agg AS (
      |  SELECT ta, tb, CAST(count(*) AS BIGINT) AS n0,
      |    CAST(sum(con) AS BIGINT) AS c, CAST(sum(dis) AS BIGINT) AS d,
      |    CAST(sum(tx) AS BIGINT) AS tx, CAST(sum(tyy) AS BIGINT) AS tyy
      |  FROM pp GROUP BY 1, 2
      |)
      |SELECT ta AS type_a, tb AS type_b, n0 AS n_pairs,
      |  c AS concordant, d AS discordant, tx AS ties_a, tyy AS ties_b,
      |  round(CAST(c - d AS DOUBLE)
      |    / nullif(sqrt(CAST((n0 - tx) * (n0 - tyy) AS DOUBLE)),
      |        CAST(0 AS DOUBLE)), 6) AS tau_b
      |FROM agg
      |ORDER BY type_a, type_b""".stripMargin,
  ) { (s, d) =>
    val e = Tables.events(s, d)
      .filter(col("ts").isNotNull && col("event_type").isNotNull)
      .select(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("day"))
    val dc = e.groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).cast("long").as("cnt"))
    val b = e.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    val ty = e.select(col("event_type")).distinct()
    val grid = ty.crossJoin(broadcast(b))
      .select(col("event_type").as("g_type"),
        explode(sequence(col("d0"), col("d1"))).as("day"))
    val x = grid.join(dc,
        col("g_type") === dc("event_type") && dc("day") === grid("day"),
        "left")
      .select(col("g_type").as("event_type"), grid("day"),
        coalesce(col("cnt"), lit(0L)).as("c"))
    val a1 = x.select(col("event_type").as("ta"), col("day"),
      col("c").as("xa"))
    val a2 = x.select(col("event_type").as("tb"), col("day").as("day2"),
      col("c").as("ya"))
    val pr = a1.join(a2,
        col("day") === col("day2") && col("ta") < col("tb"))
      .select(col("ta"), col("tb"), col("day"), col("xa"), col("ya"))
    val p1 = pr.select(col("ta"), col("tb"), col("day").as("dp"),
      col("xa").as("pxa"), col("ya").as("pya"))
    val p2 = pr.select(col("ta").as("ta2"), col("tb").as("tb2"),
      col("day").as("dq"), col("xa").as("qxa"), col("ya").as("qya"))
    val pp = p1.join(p2,
        col("ta") === col("ta2") && col("tb") === col("tb2")
          && col("dp") < col("dq"))
      .select(col("ta"), col("tb"),
        when((col("pxa") - col("qxa")) * (col("pya") - col("qya")) > 0, 1)
          .otherwise(0).as("con"),
        when((col("pxa") - col("qxa")) * (col("pya") - col("qya")) < 0, 1)
          .otherwise(0).as("dis"),
        when(col("pxa") === col("qxa"), 1).otherwise(0).as("tx"),
        when(col("pya") === col("qya"), 1).otherwise(0).as("tyy"))
    pp.groupBy(col("ta"), col("tb"))
      .agg(count(lit(1)).cast("long").as("n0"),
        sum(col("con")).cast("long").as("c"),
        sum(col("dis")).cast("long").as("d"),
        sum(col("tx")).cast("long").as("txs"),
        sum(col("tyy")).cast("long").as("tys"))
      .select(col("ta").as("type_a"), col("tb").as("type_b"),
        col("n0").as("n_pairs"), col("c").as("concordant"),
        col("d").as("discordant"), col("txs").as("ties_a"),
        col("tys").as("ties_b"),
        round(expr("""CAST(c - d AS DOUBLE)
          |  / nullif(sqrt(CAST((n0 - txs) * (n0 - tys) AS DOUBLE)),
          |      CAST(0 AS DOUBLE))""".stripMargin), 6).as("tau_b"))
      .orderBy(col("type_a"), col("type_b"))
  }

  /** THEIL–SEN ROBUST TREND — the breakdown-resistant slope next to
    * q94's OLS trend and q196's MAD scale: per event type, over the dense
    * daily count series (empty days = 0), the estimator is the MEDIAN of
    * all pairwise slopes (c_j − c_i)/(j − i), j > i — up to 29% of days
    * can be arbitrarily corrupted (an outage, a bot flood) without moving
    * it, where one bad day drags OLS. Reported next to the exact OLS
    * slope from the same series so the gap itself is a data-quality
    * signal.
    *
    * Exactness: each pairwise slope is ONE IEEE division of exact int64
    * operands (bit-identical cross-engine); the median selects VALUES at
    * rank positions ⌈m/2⌉ and ⌊m/2⌋+1 of the slope multiset (tie order
    * irrelevant for a multiset selection) and finishes (min+max)/2 — one
    * commutative double add, no order-dependent summation anywhere. The
    * OLS slope is a fixed-order division of exact int64 moment sums over
    * the 0-based day index (Σt, Σt², Σt·c all exact; bounds: span ≤ 2.6M
    * days before n·Σt² breaks int64). Types with a single-day span have
    * no pairs and are EXCLUDED by definition (documented, suite-pinned).
    *
    * Plan: raw rows collapse to (type, day) counts map-side; the pair
    * explode is span²/2 per type on the CALENDAR (435 rows at a month,
    * 66k at a year) — bounded state, one window per type for the rank
    * selection, never row-proportional.
    */
  val q209TheilSen = Q(
    "q209_theil_sen",
    """WITH e AS (
      |  SELECT event_type,
      |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day
      |  FROM events
      |  WHERE ts IS NOT NULL AND event_type IS NOT NULL
      |),
      |dc AS (SELECT event_type, day, CAST(count(*) AS BIGINT) AS cnt
      |       FROM e GROUP BY 1, 2),
      |b AS (SELECT event_type, min(day) AS d0, max(day) AS d1
      |      FROM dc GROUP BY 1),
      |grid AS (
      |  SELECT b.event_type, unnest(range(0, b.d1 - b.d0 + 1)) AS t, b.d0
      |  FROM b
      |),
      |x AS (
      |  SELECT g.event_type, g.t, COALESCE(dc.cnt, 0) AS c
      |  FROM grid g LEFT JOIN dc
      |    ON dc.event_type = g.event_type AND dc.day = g.d0 + g.t
      |),
      |mom AS (
      |  SELECT event_type, CAST(count(*) AS BIGINT) AS m,
      |    CAST(sum(t) AS BIGINT) AS st,
      |    CAST(sum(t * t) AS BIGINT) AS stt,
      |    CAST(sum(c) AS BIGINT) AS sy,
      |    CAST(sum(t * c) AS BIGINT) AS sty
      |  FROM x GROUP BY 1
      |),
      |pairs AS (
      |  SELECT a.event_type,
      |    CAST(b2.c - a.c AS DOUBLE) / CAST(b2.t - a.t AS DOUBLE) AS slope
      |  FROM x a JOIN x b2
      |    ON a.event_type = b2.event_type AND b2.t > a.t
      |),
      |rk AS (
      |  SELECT event_type, slope,
      |    row_number() OVER (PARTITION BY event_type ORDER BY slope)
      |      AS rn,
      |    count(*) OVER (PARTITION BY event_type) AS mp
      |  FROM pairs
      |),
      |med AS (
      |  SELECT event_type, CAST(min(mp) AS BIGINT) AS n_pairs,
      |    (min(slope) + max(slope)) / CAST(2 AS DOUBLE) AS ts_slope
      |  FROM rk
      |  WHERE rn = (mp + 1) // 2 OR rn = mp // 2 + 1
      |  GROUP BY 1
      |)
      |SELECT mom.event_type, mom.m AS n_days, med.n_pairs,
      |  round(med.ts_slope, 6) AS ts_slope,
      |  round(CAST(mom.m * mom.sty - mom.st * mom.sy AS DOUBLE)
      |    / nullif(CAST(mom.m * mom.stt - mom.st * mom.st AS DOUBLE),
      |        CAST(0 AS DOUBLE)), 6) AS ols_slope
      |FROM mom JOIN med ON med.event_type = mom.event_type
      |ORDER BY mom.event_type""".stripMargin,
  ) { (s, d) =>
    val e = Tables.events(s, d)
      .filter(col("ts").isNotNull && col("event_type").isNotNull)
      .select(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("day"))
    val dc = e.groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).cast("long").as("cnt"))
    val grid = dc.groupBy(col("event_type"))
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(col("event_type").as("g_type"), col("d0"),
        explode(sequence(lit(0L), col("d1") - col("d0"))).as("t"))
    val x = grid.join(dc,
        col("g_type") === dc("event_type")
          && dc("day") === col("d0") + col("t"), "left")
      .select(col("g_type").as("event_type"), col("t"),
        coalesce(col("cnt"), lit(0L)).as("c"))
      .transform(graft.operators.Iter.pin) // 2 consumers: moments and the pair explode
    val mom = x.groupBy(col("event_type"))
      .agg(count(lit(1)).cast("long").as("m"),
        sum(col("t")).cast("long").as("st"),
        sum(col("t") * col("t")).cast("long").as("stt"),
        sum(col("c")).cast("long").as("sy"),
        sum(col("t") * col("c")).cast("long").as("sty"))
    val a1 = x.select(col("event_type").as("e1"), col("t").as("t1"),
      col("c").as("c1"))
    val a2 = x.select(col("event_type").as("e2"), col("t").as("t2"),
      col("c").as("c2"))
    val pairs = a1.join(a2, col("e1") === col("e2") && col("t2") > col("t1"))
      .select(col("e1").as("event_type"),
        expr("CAST(c2 - c1 AS DOUBLE) / CAST(t2 - t1 AS DOUBLE)")
          .as("slope"))
    val wOrd = Window.partitionBy(col("event_type")).orderBy(col("slope"))
    val wAll = Window.partitionBy(col("event_type"))
    val rk = pairs.select(col("event_type"), col("slope"),
      row_number().over(wOrd).as("rn"),
      count(lit(1)).over(wAll).as("mp"))
    val med = rk
      .filter(col("rn") === expr("(mp + 1) div 2")
        || col("rn") === expr("mp div 2 + 1"))
      .groupBy(col("event_type"))
      .agg(min(col("mp")).cast("long").as("n_pairs"),
        ((min(col("slope")) + max(col("slope")))
          / lit(2).cast("double")).as("ts_slope"))
    mom.join(med, "event_type")
      .select(col("event_type"), col("m").as("n_days"), col("n_pairs"),
        round(col("ts_slope"), 6).as("ts_slope"),
        round(expr("""CAST(m * sty - st * sy AS DOUBLE)
          |  / nullif(CAST(m * stt - st * st AS DOUBLE),
          |      CAST(0 AS DOUBLE))""".stripMargin), 6).as("ols_slope"))
      .orderBy(col("event_type"))
  }

  /** WASSERSTEIN-1 (EARTH MOVER) DISTANCE — the third leg of the
    * distribution-drift triple: q140's KS is the sup-norm of the CDF gap,
    * q111's PSI and q199's JS are binned mass divergences; W₁ is the
    * FULL-SHAPE distance ∫|F₁ − F₂| that weighs HOW FAR mass moved, not
    * just whether it did — the metric of choice for length/score drift
    * between corpus slices. Computed here for every unordered pair of
    * document sources over the n_chars distribution.
    *
    * Exactness: W₁ between empirical CDFs of INTEGER-valued samples is an
    * exact RATIONAL with denominator n₁n₂ — so the engine computes
    * w1_scaled = n₁n₂·W₁ = Σ_k |cum₁(v_k)·n₂ − cum₂(v_k)·n₁|·(v_{k+1}−v_k)
    * entirely in int64 (cumulative counts off the shared sorted value
    * grid, cross-multiplied to clear both denominators), and the reported
    * w1 divides once via the ratio6 integer rounding. No float enters
    * before the final division. Bounds: |cum₁·n₂| ≤ n₁n₂ and the Δv sum
    * telescopes to the value range R, so w1_scaled ≤ n₁n₂·R — int64-safe
    * through n₁n₂·R ≤ 9.2e18 (e.g. 10⁶×10⁶ samples over a 10⁶ range
    * needs the DECIMAL widening, documented).
    *
    * Plan: one scan → per-source value histogram (map-side combined,
    * |sources|·|values| rows), a broadcast-sized source-pair × value grid
    * (190 × ~500 here), one window per pair for the cumulatives. At
    * 100 TB nothing row-proportional survives the first aggregate; the
    * grid is category-bounded (sources² × distinct values).
    */
  val q210Wasserstein1 = Q(
    "q210_wasserstein1",
    s"""WITH d AS (
      |  SELECT source, n_chars FROM documents
      |  WHERE source IS NOT NULL AND n_chars IS NOT NULL
      |),
      |sc AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM d
      |       GROUP BY 1),
      |vc AS (SELECT source, n_chars AS v, CAST(count(*) AS BIGINT) AS cnt
      |       FROM d GROUP BY 1, 2),
      |vg AS (
      |  SELECT v, lead(v) OVER (ORDER BY v) AS nxt
      |  FROM (SELECT DISTINCT n_chars AS v FROM d)
      |),
      |pairs AS (
      |  SELECT a.source AS src_a, b.source AS src_b, a.n AS n1, b.n AS n2
      |  FROM sc a JOIN sc b ON a.source < b.source
      |),
      |cells AS (
      |  SELECT p.src_a, p.src_b, p.n1, p.n2, g.v, g.nxt,
      |    CAST(sum(COALESCE(ca.cnt, 0)) OVER (
      |      PARTITION BY p.src_a, p.src_b ORDER BY g.v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS cum1,
      |    CAST(sum(COALESCE(cb.cnt, 0)) OVER (
      |      PARTITION BY p.src_a, p.src_b ORDER BY g.v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS cum2
      |  FROM pairs p CROSS JOIN vg g
      |  LEFT JOIN vc ca ON ca.source = p.src_a AND ca.v = g.v
      |  LEFT JOIN vc cb ON cb.source = p.src_b AND cb.v = g.v
      |),
      |agg AS (
      |  SELECT src_a, src_b, n1, n2,
      |    CAST(sum(CASE WHEN nxt IS NULL THEN 0
      |      ELSE abs(cum1 * n2 - cum2 * n1) * (nxt - v) END) AS BIGINT)
      |      AS w1_scaled
      |  FROM cells GROUP BY 1, 2, 3, 4
      |)
      |SELECT src_a, src_b, n1, n2, w1_scaled,
      |  ${Exact.Sql.ratio6("w1_scaled", "n1 * n2")} AS w1
      |FROM agg
      |ORDER BY src_a, src_b""".stripMargin,
  ) { (s, d) =>
    val doc = Tables.documents(s, d)
      .filter(col("source").isNotNull && col("n_chars").isNotNull)
      .select(col("source"), col("n_chars"))
    val sc = doc.groupBy(col("source")).agg(count(lit(1)).cast("long").as("n"))
    val vc = doc.groupBy(col("source"), col("n_chars").as("v"))
      .agg(count(lit(1)).cast("long").as("cnt"))
      .select(col("source"), col("v"), col("cnt"))
    val vg = doc.select(col("n_chars").as("v")).distinct()
      .select(col("v"), lead(col("v"), 1).over(Window.orderBy(col("v")))
        .as("nxt"))
    val pairs = sc.select(col("source").as("src_a"), col("n").as("n1"))
      .join(sc.select(col("source").as("src_b"), col("n").as("n2")),
        col("src_a") < col("src_b"))
    val ca = vc.select(col("source").as("sa"), col("v").as("va"),
      col("cnt").as("ca_cnt"))
    val cb = vc.select(col("source").as("sb"), col("v").as("vb"),
      col("cnt").as("cb_cnt"))
    val wc = Window.partitionBy(col("src_a"), col("src_b"))
      .orderBy(col("v")).rowsBetween(Window.unboundedPreceding, 0)
    val cells = pairs.crossJoin(broadcast(vg))
      .join(ca, col("sa") === col("src_a") && col("va") === col("v"), "left")
      .join(cb, col("sb") === col("src_b") && col("vb") === col("v"), "left")
      .select(col("src_a"), col("src_b"), col("n1"), col("n2"),
        col("v"), col("nxt"),
        sum(coalesce(col("ca_cnt"), lit(0L))).over(wc).cast("long")
          .as("cum1"),
        sum(coalesce(col("cb_cnt"), lit(0L))).over(wc).cast("long")
          .as("cum2"))
    cells.groupBy(col("src_a"), col("src_b"), col("n1"), col("n2"))
      .agg(sum(when(col("nxt").isNull, 0L)
          .otherwise(abs(col("cum1") * col("n2") - col("cum2") * col("n1"))
            * (col("nxt") - col("v")))).cast("long").as("w1_scaled"))
      .select(col("src_a"), col("src_b"), col("n1"), col("n2"),
        col("w1_scaled"), Exact.ratio6("w1_scaled", "n1 * n2").as("w1"))
      .orderBy(col("src_a"), col("src_b"))
  }
  /** HILL TAIL-INDEX ESTIMATOR — the heavy-tail exponent of the value
    * distribution, the diagnostic that tells a pipeline whether means and
    * variances of a feed are even finite-sample-stable (α ≤ 2: variance
    * diverges; α ≤ 1: mean does): per event type, over the k = 100
    * largest positive values x₍₁₎ ≥ … ≥ x₍ₖ₎ and the threshold x₍ₖ₊₁₎,
    * H = (1/k)·Σᵢ ln(x₍ᵢ₎/x₍ₖ₊₁₎) and α̂ = 1/H. Complements q147's
    * Gini/top-share (inequality of the WHOLE distribution) with the
    * asymptotic LAW of the tail.
    *
    * Exactness: the top-k VALUE MULTISET is selection-order-free (ties at
    * the boundary fill remaining slots with the same value whatever the
    * row_number tie order — only values enter the statistic), each ratio
    * is one exact int64→double divide, each ln is float-cast, the sum is
    * DECIMAL(18,9), and H/α finish fixed-order. All-equal tail (H = 0) →
    * NULL α via nullif, explicit on both engines. Types with < k+1
    * positive observations are EXCLUDED by definition (the estimator
    * needs a threshold order statistic; documented, suite-pinned).
    *
    * Plan: per-type top-(k+1) is a TakeOrdered-shaped window over the
    * (type) partition — at 100 TB the right physical form is the
    * per-partition top-k pre-prune (rank ≤ k+1 survives partial
    * aggregation); everything after is k-bounded per type.
    */
  val q212HillTail = Q(
    "q212_hill_tail",
    """WITH e AS (
      |  SELECT event_type, event_id,
      |    CAST(round(100 * value) AS BIGINT) AS cents
      |  FROM events
      |  WHERE value IS NOT NULL AND event_type IS NOT NULL
      |    AND round(100 * value) > 0
      |),
      |rk AS (
      |  SELECT event_type, cents,
      |    row_number() OVER (PARTITION BY event_type
      |      ORDER BY cents DESC, event_id) AS rn
      |  FROM e
      |),
      |thr AS (
      |  SELECT event_type, cents AS xk1 FROM rk WHERE rn = 101
      |),
      |terms AS (
      |  SELECT rk.event_type, thr.xk1,
      |    CAST(CAST(ln(CAST(rk.cents AS DOUBLE)
      |      / CAST(thr.xk1 AS DOUBLE)) AS FLOAT) AS DECIMAL(18,9)) AS lr
      |  FROM rk JOIN thr ON thr.event_type = rk.event_type
      |  WHERE rk.rn <= 100
      |)
      |SELECT event_type,
      |  CAST(count(*) AS BIGINT) AS n_tail,
      |  CAST(min(xk1) AS BIGINT) AS threshold_cents,
      |  round(CAST(sum(lr) AS DOUBLE) / CAST(100 AS DOUBLE), 6) AS hill_h,
      |  round(CAST(1 AS DOUBLE)
      |    / nullif(CAST(sum(lr) AS DOUBLE) / CAST(100 AS DOUBLE),
      |        CAST(0 AS DOUBLE)), 6) AS alpha
      |FROM terms
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin,
  ) { (s, d) =>
    val e = Tables.events(s, d)
      .filter(col("value").isNotNull && col("event_type").isNotNull)
      .select(col("event_type"), col("event_id"),
        expr("CAST(round(100 * value) AS BIGINT)").as("cents"))
      .filter(col("cents") > 0)
    val rk = e.select(col("event_type"), col("cents"),
      row_number().over(Window.partitionBy(col("event_type"))
        .orderBy(col("cents").desc, col("event_id").asc)).as("rn"))
    val thr = rk.filter(col("rn") === 101)
      .select(col("event_type"), col("cents").as("xk1"))
    val terms = rk.filter(col("rn") <= 100)
      .join(thr, "event_type")
      .select(col("event_type"), col("xk1"),
        expr("""CAST(CAST(ln(CAST(cents AS DOUBLE)
          |  / CAST(xk1 AS DOUBLE)) AS FLOAT) AS DECIMAL(18,9))"""
          .stripMargin).as("lr"))
    terms.groupBy(col("event_type"))
      .agg(count(lit(1)).cast("long").as("n_tail"),
        min(col("xk1")).cast("long").as("threshold_cents"),
        sum(col("lr")).as("lrsum"))
      .select(col("event_type"), col("n_tail"), col("threshold_cents"),
        round(expr("CAST(lrsum AS DOUBLE) / CAST(100 AS DOUBLE)"), 6)
          .as("hill_h"),
        round(expr("""CAST(1 AS DOUBLE)
          |  / nullif(CAST(lrsum AS DOUBLE) / CAST(100 AS DOUBLE),
          |      CAST(0 AS DOUBLE))""".stripMargin), 6).as("alpha"))
      .orderBy(col("event_type"))
  }
  /** BENJAMINI–HOCHBERG FDR SWEEP — mass significance testing with a
    * false-discovery-rate guarantee, the operator that makes the
    * experiment family (q154/q162/q192/q207) safe to run 120 times at
    * once: per (event_type, hour-of-day), a G-test of independence
    * between "this hour vs the rest" and the value band (2×3, df = 2 —
    * chosen precisely BECAUSE the χ²₍₂₎ tail is the CLOSED FORM
    * p = e^(−G/2), no erf/regularized-Γ special function any engine
    * would have to agree on), then the BH step-up over all m hypotheses:
    * q₍ᵢ₎ = min_{j≥i} p₍ⱼ₎·m/j, reject at q ≤ 0.05.
    *
    * Exactness: cell/margin counts are exact int64 over the DENSE
    * (type × 24 × 3 band) grid (absent cells o = 0 contribute 0 — the
    * 0·ln 0 limit stated via CASE on both engines); each G term is
    * o·ln(o·n/(r·c)) with exact-int64 double products (o·n ≤ 2⁵³ bounds
    * n per type ≤ 9.4e7 — document, shard past it), float-cast ln,
    * DECIMAL(18,9) sum; p is the float-cast exp of one fixed-order
    * halving. The BH rank orders by (p, type, hod) — a TOTAL key, so the
    * step-up permutation is engine-independent even among underflowed
    * p = 0 ties — and q₍ᵢ₎ is one suffix-min window over m rows.
    *
    * Plan: one scan → the (type, hod, band) aggregate (map-side
    * combined, category-bounded at 360 cells), broadcast margins, and
    * TWO single-partition windows over m = 120 hypothesis rows — the
    * window is hypothesis-bounded, never data-bounded, so the plan is
    * scan-dominated at any corpus size.
    */
  val q216BhFdr = Q(
    "q216_bh_fdr",
    """WITH e AS (
      |  SELECT event_type,
      |    (epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000) % 24 AS hod,
      |    CASE WHEN round(100 * value) < 2000 THEN 0
      |         WHEN round(100 * value) < 8000 THEN 1 ELSE 2 END AS band
      |  FROM events
      |  WHERE ts IS NOT NULL AND value IS NOT NULL
      |    AND event_type IS NOT NULL
      |),
      |cell AS (
      |  SELECT event_type, hod, band, CAST(count(*) AS BIGINT) AS o
      |  FROM e GROUP BY 1, 2, 3
      |),
      |tb AS (SELECT event_type, band, CAST(count(*) AS BIGINT) AS c
      |       FROM e GROUP BY 1, 2),
      |tn AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n
      |       FROM e GROUP BY 1),
      |hn AS (SELECT event_type, hod, CAST(count(*) AS BIGINT) AS nh
      |       FROM e GROUP BY 1, 2),
      |grid AS (
      |  SELECT hn.event_type, hn.hod, hn.nh, tb.band, tb.c, tn.n,
      |    COALESCE(cell.o, 0) AS o
      |  FROM hn
      |  JOIN tn ON tn.event_type = hn.event_type
      |  JOIN tb ON tb.event_type = hn.event_type
      |  LEFT JOIN cell ON cell.event_type = hn.event_type
      |    AND cell.hod = hn.hod AND cell.band = tb.band
      |),
      |terms AS (
      |  SELECT event_type, hod,
      |    CAST(CASE WHEN o > 0 THEN
      |      CAST(o AS DOUBLE) * CAST(ln(CAST(o AS DOUBLE)
      |        * CAST(n AS DOUBLE)
      |        / (CAST(nh AS DOUBLE) * CAST(c AS DOUBLE))) AS FLOAT)
      |      ELSE 0 END AS DECIMAL(18,9)) AS t_in,
      |    CAST(CASE WHEN c - o > 0 THEN
      |      CAST(c - o AS DOUBLE) * CAST(ln(CAST(c - o AS DOUBLE)
      |        * CAST(n AS DOUBLE)
      |        / (CAST(n - nh AS DOUBLE) * CAST(c AS DOUBLE))) AS FLOAT)
      |      ELSE 0 END AS DECIMAL(18,9)) AS t_out
      |  FROM grid
      |),
      |g AS (
      |  SELECT event_type, hod,
      |    CAST(2 AS DOUBLE) * CAST(sum(t_in) + sum(t_out) AS DOUBLE)
      |      AS gstat
      |  FROM terms GROUP BY 1, 2
      |),
      |pv AS (
      |  SELECT event_type, hod, gstat,
      |    CAST(exp(CAST(0 AS DOUBLE) - gstat / CAST(2 AS DOUBLE))
      |      AS FLOAT) AS p_raw
      |  FROM g
      |),
      |rk AS (
      |  SELECT event_type, hod, gstat, p_raw,
      |    row_number() OVER (ORDER BY p_raw, event_type, hod) AS rnk,
      |    count(*) OVER () AS m
      |  FROM pv
      |),
      |bh AS (
      |  SELECT event_type, hod, gstat, p_raw, rnk,
      |    min(CAST(p_raw AS DOUBLE) * CAST(m AS DOUBLE)
      |      / CAST(rnk AS DOUBLE)) OVER (ORDER BY rnk DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS qv
      |  FROM rk
      |)
      |SELECT event_type, CAST(hod AS BIGINT) AS hod,
      |  round(gstat, 6) AS g_stat,
      |  round(CAST(p_raw AS DOUBLE), 6) AS p_raw,
      |  CAST(rnk AS BIGINT) AS rnk,
      |  round(least(qv, CAST(1 AS DOUBLE)), 6) AS q_value,
      |  CASE least(qv, CAST(1 AS DOUBLE)) <= 0.05
      |    WHEN true THEN 'reject' WHEN false THEN 'accept' END
      |    AS reject
      |FROM bh
      |ORDER BY rnk""".stripMargin,
  ) { (s, d) =>
    val e = Tables.events(s, d)
      .filter(col("ts").isNotNull && col("value").isNotNull
        && col("event_type").isNotNull)
      .select(col("event_type"),
        expr("(unix_micros(ts) div 3600000000) % 24").as("hod"),
        expr("""CASE WHEN round(100 * value) < 2000 THEN 0
          |     WHEN round(100 * value) < 8000 THEN 1 ELSE 2 END"""
          .stripMargin).as("band"))
      .transform(graft.operators.Iter.pin) // 4 consumers: cells and the three margins
    val cell = e.groupBy(col("event_type"), col("hod"), col("band"))
      .agg(count(lit(1)).cast("long").as("o"))
    val tb = e.groupBy(col("event_type"), col("band"))
      .agg(count(lit(1)).cast("long").as("c"))
      .select(col("event_type").as("tb_type"), col("band").as("tb_band"),
        col("c"))
    val tn = e.groupBy(col("event_type"))
      .agg(count(lit(1)).cast("long").as("n"))
      .select(col("event_type").as("tn_type"), col("n"))
    val hn = e.groupBy(col("event_type"), col("hod"))
      .agg(count(lit(1)).cast("long").as("nh"))
    val grid = hn
      .join(tn, col("tn_type") === col("event_type"))
      .join(tb, col("tb_type") === col("event_type"))
      .join(cell.select(col("event_type").as("c_type"),
          col("hod").as("c_hod"), col("band").as("c_band"), col("o")),
        col("c_type") === col("event_type") && col("c_hod") === col("hod")
          && col("c_band") === col("tb_band"), "left")
      .select(col("event_type"), col("hod"), col("nh"),
        col("tb_band").as("band"), col("c"), col("n"),
        coalesce(col("o"), lit(0L)).as("o"))
    val terms = grid.select(col("event_type"), col("hod"),
      expr("""CAST(CASE WHEN o > 0 THEN
        |  CAST(o AS DOUBLE) * CAST(ln(CAST(o AS DOUBLE)
        |    * CAST(n AS DOUBLE)
        |    / (CAST(nh AS DOUBLE) * CAST(c AS DOUBLE))) AS FLOAT)
        |  ELSE 0 END AS DECIMAL(18,9))""".stripMargin).as("t_in"),
      expr("""CAST(CASE WHEN c - o > 0 THEN
        |  CAST(c - o AS DOUBLE) * CAST(ln(CAST(c - o AS DOUBLE)
        |    * CAST(n AS DOUBLE)
        |    / (CAST(n - nh AS DOUBLE) * CAST(c AS DOUBLE))) AS FLOAT)
        |  ELSE 0 END AS DECIMAL(18,9))""".stripMargin).as("t_out"))
    val g = terms.groupBy(col("event_type"), col("hod"))
      .agg((sum(col("t_in")) + sum(col("t_out"))).as("tsum"))
      .select(col("event_type"), col("hod"),
        expr("CAST(2 AS DOUBLE) * CAST(tsum AS DOUBLE)").as("gstat"))
    val pv = g.withColumn("p_raw",
      expr("""CAST(exp(CAST(0 AS DOUBLE) - gstat / CAST(2 AS DOUBLE))
        |  AS FLOAT)""".stripMargin))
    val rk = pv.select(col("event_type"), col("hod"), col("gstat"),
      col("p_raw"),
      row_number().over(Window.orderBy(col("p_raw"), col("event_type"),
        col("hod"))).as("rnk"),
      count(lit(1)).over(Window.partitionBy()).as("m"))
    val bh = rk.withColumn("qv",
      min(expr("""CAST(p_raw AS DOUBLE) * CAST(m AS DOUBLE)
        |  / CAST(rnk AS DOUBLE)""".stripMargin))
        .over(Window.orderBy(col("rnk").desc)
          .rowsBetween(Window.unboundedPreceding, 0)))
    bh.select(col("event_type"), col("hod").cast("long").as("hod"),
        round(col("gstat"), 6).as("g_stat"),
        round(col("p_raw").cast("double"), 6).as("p_raw"),
        col("rnk").cast("long").as("rnk"),
        round(least(col("qv"), lit(1.0)), 6).as("q_value"),
        // §5.7 nullable-boolean rule (r16): string verdict, NULL q → NULL
        when(least(col("qv"), lit(1.0)) <= 0.05, lit("reject"))
          .when(least(col("qv"), lit(1.0)) > 0.05, lit("accept"))
          .as("reject"))
      .orderBy(col("rnk"))
  }
  /** COCHRAN–MANTEL–HAENSZEL STRATIFIED TEST — the Simpson's-paradox
    * guard for the association family (q156/q200 test ONE table; this
    * tests a common exposure→outcome effect ACROSS strata, here
    * length ≥ 300 → lang = 'en' stratified by source): per stratum the
    * 2×2 cell a_k is compared to its hypergeometric expectation
    * E_k = r₁c₁/n and variance V_k = r₁(n−r₁)c₁(n−c₁)/(n²(n−1)), and
    * CMH = (Σa_k − ΣE_k)²/ΣV_k is χ²₍₁₎ under the no-common-association
    * null. Pooling the tables instead would let stratum composition
    * fake or mask the effect — the exact failure q200 cannot see.
    *
    * Exactness: a/r₁/c₁/n are exact int64; E_k and V_k are fixed-order
    * chained double divides (never an n³ integer product) cast to
    * DECIMAL(18,9), so the cross-strata sums are associative; the CMH
    * finish is one fixed-order double chain over those sums.
    * Output rounding happens on the decimals (the q217 lesson).
    * Single-member strata get V_k = 0 explicitly (the n−1 guard);
    * all-degenerate ΣV = 0 → NULL via nullif.
    *
    * Plan: one scan → 20-row stratum aggregate (map-side combined),
    * window totals over the stratum-bounded frame. Scan-dominated at
    * any corpus size; stratum cardinality is the only state.
    */
  val q219CmhStrata = Q(
    "q219_cmh_strata",
    """WITH d AS (
      |  SELECT source,
      |    CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS e,
      |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
      |  FROM documents
      |  WHERE source IS NOT NULL AND n_chars IS NOT NULL
      |    AND lang IS NOT NULL
      |),
      |k AS (
      |  SELECT source,
      |    CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(e) AS BIGINT) AS r1,
      |    CAST(sum(y) AS BIGINT) AS c1,
      |    CAST(sum(e * y) AS BIGINT) AS a
      |  FROM d GROUP BY 1
      |),
      |t AS (
      |  SELECT source, n, r1, c1, a,
      |    CAST(CAST(r1 AS DOUBLE) * CAST(c1 AS DOUBLE)
      |      / CAST(n AS DOUBLE) AS DECIMAL(18,9)) AS ek,
      |    CAST(CASE WHEN n > 1 THEN
      |      CAST(r1 AS DOUBLE) * CAST(n - r1 AS DOUBLE)
      |        / CAST(n AS DOUBLE)
      |      * CAST(c1 AS DOUBLE) / CAST(n AS DOUBLE)
      |      * CAST(n - c1 AS DOUBLE) / CAST(n - 1 AS DOUBLE)
      |      ELSE 0 END AS DECIMAL(18,9)) AS vk
      |  FROM k
      |),
      |w AS (
      |  SELECT source, n, r1, c1, a, ek, vk,
      |    CAST(sum(a) OVER () AS BIGINT) AS sa,
      |    sum(ek) OVER () AS se,
      |    sum(vk) OVER () AS sv
      |  FROM t
      |)
      |SELECT source, n, r1, c1, a,
      |  CAST(round(ek, 6) AS DOUBLE) AS expected_a,
      |  CAST(round(vk, 6) AS DOUBLE) AS var_a,
      |  round((CAST(sa AS DOUBLE) - CAST(se AS DOUBLE))
      |    * (CAST(sa AS DOUBLE) - CAST(se AS DOUBLE))
      |    / nullif(CAST(sv AS DOUBLE), CAST(0 AS DOUBLE)), 6) AS cmh,
      |  CASE ((CAST(sa AS DOUBLE) - CAST(se AS DOUBLE))
      |    * (CAST(sa AS DOUBLE) - CAST(se AS DOUBLE))
      |    / nullif(CAST(sv AS DOUBLE), CAST(0 AS DOUBLE))) > 3.8415
      |    WHEN true THEN 'significant' WHEN false THEN 'ns' END
      |    AS significant
      |FROM w
      |ORDER BY source""".stripMargin,
  ) { (s, d) =>
    val doc = Tables.documents(s, d)
      .filter(col("source").isNotNull && col("n_chars").isNotNull
        && col("lang").isNotNull)
      .select(col("source"),
        when(col("n_chars") >= 300, 1L).otherwise(0L).as("e"),
        when(col("lang") === "en", 1L).otherwise(0L).as("y"))
    val k = doc.groupBy(col("source"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("e")).cast("long").as("r1"),
        sum(col("y")).cast("long").as("c1"),
        sum(col("e") * col("y")).cast("long").as("a"))
    val t = k.select(col("source"), col("n"), col("r1"), col("c1"),
      col("a"),
      expr("""CAST(CAST(r1 AS DOUBLE) * CAST(c1 AS DOUBLE)
        |  / CAST(n AS DOUBLE) AS DECIMAL(18,9))""".stripMargin).as("ek"),
      expr("""CAST(CASE WHEN n > 1 THEN
        |  CAST(r1 AS DOUBLE) * CAST(n - r1 AS DOUBLE)
        |    / CAST(n AS DOUBLE)
        |  * CAST(c1 AS DOUBLE) / CAST(n AS DOUBLE)
        |  * CAST(n - c1 AS DOUBLE) / CAST(n - 1 AS DOUBLE)
        |  ELSE 0 END AS DECIMAL(18,9))""".stripMargin).as("vk"))
    val wAll = Window.partitionBy()
    val w = t.select(col("source"), col("n"), col("r1"), col("c1"),
      col("a"), col("ek"), col("vk"),
      sum(col("a")).over(wAll).cast("long").as("sa"),
      sum(col("ek")).over(wAll).as("se"),
      sum(col("vk")).over(wAll).as("sv"))
    val cmh = expr("""(CAST(sa AS DOUBLE) - CAST(se AS DOUBLE))
      |  * (CAST(sa AS DOUBLE) - CAST(se AS DOUBLE))
      |  / nullif(CAST(sv AS DOUBLE), CAST(0 AS DOUBLE))""".stripMargin)
    w.select(col("source"), col("n"), col("r1"), col("c1"), col("a"),
        round(col("ek"), 6).cast("double").as("expected_a"),
        round(col("vk"), 6).cast("double").as("var_a"),
        round(cmh, 6).as("cmh"),
        // §5.7 nullable-boolean rule (r16): string verdict, NULL cmh → NULL
        when(cmh > 3.8415, lit("significant"))
          .when(cmh <= 3.8415, lit("ns")).as("significant"))
      .orderBy(col("source"))
  }
  /** ACF + LJUNG–BOX WHITE-NOISE TEST — the serial-dependence profile of
    * the hourly count series (per event type, dense grid): sample
    * autocorrelations at lags 1 and 2 and the Ljung–Box portmanteau
    * Q = n(n+2)·Σ_k ρ_k²/(n−k), df = 2 — the "is this series even worth
    * forecasting" gate in front of q193/q203/q204, with the same
    * closed-form tail trick as q216: χ²₍₂₎ ⇒ p = e^(−Q/2), no special
    * function.
    *
    * Exactness: each ρ_k is ONE double divide of two exact int64s — the
    * mean-centered products clear their μ = S/n denominators via
    * n²·Σx_tx_{t−k} − n·S·(H_k+T_k) + (n−k)·S² over n²·Q_mom − n·S²
    * (head/tail-trimmed sums H/T from lag windows; validity bound
    * n³·max(x)² < 2⁶³, document and shard past ~10⁵ hours of 10⁴-count
    * buckets). Q and p finish fixed-order with the float-cast exp.
    * Constant series (zero variance) → NULL ρ/Q/p via nullif; n ≤ 2 →
    * excluded by the lag-2 definition (suite-pinned).
    *
    * Plan: the q193 grid, two lag windows sharing one sort, one
    * map-side-combined aggregate per type, a 5-row finish. Span-bounded
    * state; never row-proportional past the hour aggregate.
    */
  val q221AcfLjungBox = Q(
    "q221_acf_ljungbox",
    """WITH e AS (
      |  SELECT event_type,
      |    epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS m
      |  FROM events
      |  WHERE ts IS NOT NULL AND event_type IS NOT NULL
      |),
      |mc AS (SELECT event_type, m, count(*) AS cnt FROM e GROUP BY 1, 2),
      |b AS (SELECT event_type, min(m) AS m0, max(m) AS m1
      |      FROM mc GROUP BY 1),
      |grid AS (
      |  SELECT b.event_type, b.m0,
      |    unnest(range(0, b.m1 - b.m0 + 1)) AS t
      |  FROM b
      |),
      |x AS (
      |  SELECT g.event_type, g.t, COALESCE(mc.cnt, 0) AS x
      |  FROM grid g LEFT JOIN mc
      |    ON mc.event_type = g.event_type AND mc.m = g.m0 + g.t
      |),
      |lagd AS (
      |  SELECT event_type, t, x,
      |    lag(x, 1) OVER (PARTITION BY event_type ORDER BY t) AS x1,
      |    lag(x, 2) OVER (PARTITION BY event_type ORDER BY t) AS x2
      |  FROM x
      |),
      |agg AS (
      |  SELECT event_type,
      |    CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(x) AS BIGINT) AS s,
      |    CAST(sum(x * x) AS BIGINT) AS q,
      |    CAST(sum(CASE WHEN x1 IS NULL THEN 0 ELSE x * x1 END)
      |      AS BIGINT) AS p1,
      |    CAST(sum(CASE WHEN x1 IS NULL THEN 0 ELSE x END) AS BIGINT)
      |      AS h1,
      |    CAST(sum(CASE WHEN x1 IS NULL THEN 0 ELSE x1 END) AS BIGINT)
      |      AS t1,
      |    CAST(sum(CASE WHEN x2 IS NULL THEN 0 ELSE x * x2 END)
      |      AS BIGINT) AS p2,
      |    CAST(sum(CASE WHEN x2 IS NULL THEN 0 ELSE x END) AS BIGINT)
      |      AS h2,
      |    CAST(sum(CASE WHEN x2 IS NULL THEN 0 ELSE x2 END) AS BIGINT)
      |      AS t2
      |  FROM lagd GROUP BY 1
      |),
      |rho AS (
      |  SELECT event_type, n,
      |    CAST(n * n * p1 - n * s * (h1 + t1) + (n - 1) * s * s
      |      AS DOUBLE)
      |      / nullif(CAST(n * n * q - n * s * s AS DOUBLE),
      |          CAST(0 AS DOUBLE)) AS r1,
      |    CAST(n * n * p2 - n * s * (h2 + t2) + (n - 2) * s * s
      |      AS DOUBLE)
      |      / nullif(CAST(n * n * q - n * s * s AS DOUBLE),
      |          CAST(0 AS DOUBLE)) AS r2
      |  FROM agg WHERE n > 2
      |),
      |lb AS (
      |  SELECT event_type, n, r1, r2,
      |    CAST(n AS DOUBLE) * CAST(n + 2 AS DOUBLE)
      |      * (r1 * r1 / CAST(n - 1 AS DOUBLE)
      |        + r2 * r2 / CAST(n - 2 AS DOUBLE)) AS qlb
      |  FROM rho
      |)
      |SELECT event_type, n AS span,
      |  round(r1, 6) AS acf1,
      |  round(r2, 6) AS acf2,
      |  round(qlb, 6) AS lb_q,
      |  round(CAST(CAST(exp(CAST(0 AS DOUBLE) - qlb / CAST(2 AS DOUBLE))
      |    AS FLOAT) AS DOUBLE), 6) AS p_value,
      |  CASE CAST(CAST(exp(CAST(0 AS DOUBLE) - qlb / CAST(2 AS DOUBLE))
      |    AS FLOAT) AS DOUBLE) > 0.05
      |    WHEN true THEN 'white_noise' WHEN false THEN 'correlated' END
      |    AS white_noise
      |FROM lb
      |ORDER BY event_type""".stripMargin,
  ) { (s, d) =>
    val mc = Tables.events(s, d)
      .filter(col("ts").isNotNull && col("event_type").isNotNull)
      .select(col("event_type"),
        expr("unix_micros(ts) div 3600000000").as("m"))
      .groupBy(col("event_type"), col("m")).agg(count(lit(1)).as("cnt"))
    val grid = mc.groupBy(col("event_type"))
      .agg(min(col("m")).as("m0"), max(col("m")).as("m1"))
      .select(col("event_type").as("g_type"), col("m0"),
        explode(sequence(lit(0L), col("m1") - col("m0"))).as("t"))
    val x = grid.join(mc,
        col("g_type") === mc("event_type")
          && mc("m") === col("m0") + col("t"), "left")
      .select(col("g_type").as("event_type"), col("t"),
        coalesce(col("cnt"), lit(0L)).as("x"))
    val wLag = Window.partitionBy(col("event_type")).orderBy(col("t"))
    val lagd = x.select(col("event_type"), col("t"), col("x"),
      lag(col("x"), 1).over(wLag).as("x1"),
      lag(col("x"), 2).over(wLag).as("x2"))
    val agg = lagd.groupBy(col("event_type"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("x")).cast("long").as("s"),
        sum(col("x") * col("x")).cast("long").as("q"),
        sum(when(col("x1").isNull, 0L).otherwise(col("x") * col("x1")))
          .cast("long").as("p1"),
        sum(when(col("x1").isNull, 0L).otherwise(col("x"))).cast("long")
          .as("h1"),
        sum(when(col("x1").isNull, 0L).otherwise(col("x1"))).cast("long")
          .as("t1"),
        sum(when(col("x2").isNull, 0L).otherwise(col("x") * col("x2")))
          .cast("long").as("p2"),
        sum(when(col("x2").isNull, 0L).otherwise(col("x"))).cast("long")
          .as("h2"),
        sum(when(col("x2").isNull, 0L).otherwise(col("x2"))).cast("long")
          .as("t2"))
    val rho = agg.filter(col("n") > 2)
      .select(col("event_type"), col("n"),
        expr("""CAST(n * n * p1 - n * s * (h1 + t1) + (n - 1) * s * s
          |    AS DOUBLE)
          |  / nullif(CAST(n * n * q - n * s * s AS DOUBLE),
          |      CAST(0 AS DOUBLE))""".stripMargin).as("r1"),
        expr("""CAST(n * n * p2 - n * s * (h2 + t2) + (n - 2) * s * s
          |    AS DOUBLE)
          |  / nullif(CAST(n * n * q - n * s * s AS DOUBLE),
          |      CAST(0 AS DOUBLE))""".stripMargin).as("r2"))
    val lb = rho.withColumn("qlb", expr(
      """CAST(n AS DOUBLE) * CAST(n + 2 AS DOUBLE)
        |  * (r1 * r1 / CAST(n - 1 AS DOUBLE)
        |    + r2 * r2 / CAST(n - 2 AS DOUBLE))""".stripMargin))
    val pexp = expr("""CAST(CAST(exp(CAST(0 AS DOUBLE)
      |  - qlb / CAST(2 AS DOUBLE)) AS FLOAT) AS DOUBLE)""".stripMargin)
    lb.select(col("event_type"), col("n").as("span"),
        round(col("r1"), 6).as("acf1"),
        round(col("r2"), 6).as("acf2"),
        round(col("qlb"), 6).as("lb_q"),
        round(pexp, 6).as("p_value"),
        // §5.7 nullable-boolean rule (r16): string verdict, NULL p → NULL
        when(pexp > 0.05, lit("white_noise"))
          .when(pexp <= 0.05, lit("correlated")).as("white_noise"))
      .orderBy(col("event_type"))
  }
  /** COCHRAN–ARMITAGE TREND TEST — the ORDERED-category member of the
    * association family: q156/q200 ask "are length and language related
    * at all"; this asks the sharper monotone question — does P(lang='en')
    * TREND across ordered length bands (<200, 200–400, ≥400 chars,
    * scores 0/1/2)? A trend test spends its single degree of freedom on
    * the ordering, so it detects monotone dose-response effects the
    * omnibus χ² dilutes across df.
    *
    * Exactness: band sizes n_i, positives r_i and the score moments
    * Sn = Σsᵢnᵢ, Snn = Σsᵢ²nᵢ, T = Σsᵢrᵢ are exact int64; the statistic
    * z² = N·(NT − R·Sn)² / (R·(N−R)·(N·Snn − Sn²)) squares the exact
    * int64 numerator in DOUBLES (NT ≤ N·2N keeps NT exact through
    * N ≤ 4.7e7; the square would need int128 — the q205/q207 bound
    * family) and chains the denominators as separate fixed-order
    * divides. Degenerate margins (R = 0, R = N, or single-band) zero a
    * denominator → NULL via nullif. The trend DIRECTION is the exact
    * integer sign of NT − R·Sn.
    *
    * Plan: one scan → 3-row band aggregate (map-side combined) → 1-row
    * finish. Scan-dominated at any size.
    */
  val q223CochranArmitage = Q(
    "q223_cochran_armitage",
    """WITH d AS (
      |  SELECT CASE WHEN n_chars < 200 THEN 0
      |              WHEN n_chars < 400 THEN 1 ELSE 2 END AS band,
      |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
      |  FROM documents
      |  WHERE n_chars IS NOT NULL AND lang IS NOT NULL
      |),
      |b AS (
      |  SELECT band, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(y) AS BIGINT) AS r
      |  FROM d GROUP BY 1
      |),
      |m AS (
      |  SELECT CAST(sum(n) AS BIGINT) AS nn,
      |    CAST(sum(r) AS BIGINT) AS rr,
      |    CAST(sum(band * n) AS BIGINT) AS sn,
      |    CAST(sum(band * band * n) AS BIGINT) AS snn,
      |    CAST(sum(band * r) AS BIGINT) AS t,
      |    CAST(max(CASE WHEN band = 0 THEN n END) AS BIGINT) AS n0,
      |    CAST(max(CASE WHEN band = 0 THEN r END) AS BIGINT) AS r0,
      |    CAST(max(CASE WHEN band = 1 THEN n END) AS BIGINT) AS n1,
      |    CAST(max(CASE WHEN band = 1 THEN r END) AS BIGINT) AS r1,
      |    CAST(max(CASE WHEN band = 2 THEN n END) AS BIGINT) AS n2,
      |    CAST(max(CASE WHEN band = 2 THEN r END) AS BIGINT) AS r2
      |  FROM b
      |)
      |SELECT nn AS n_total, rr AS n_pos, n0, r0, n1, r1, n2, r2,
      |  CAST(nn * t - rr * sn AS BIGINT) AS trend_num,
      |  round(CAST(nn AS DOUBLE)
      |    * CAST(nn * t - rr * sn AS DOUBLE)
      |    * CAST(nn * t - rr * sn AS DOUBLE)
      |    / nullif(CAST(rr AS DOUBLE) * CAST(nn - rr AS DOUBLE), 
      |        CAST(0 AS DOUBLE))
      |    / nullif(CAST(nn * snn - sn * sn AS DOUBLE),
      |        CAST(0 AS DOUBLE)), 6) AS ca_z2,
      |  CASE (CAST(nn AS DOUBLE)
      |    * CAST(nn * t - rr * sn AS DOUBLE)
      |    * CAST(nn * t - rr * sn AS DOUBLE)
      |    / nullif(CAST(rr AS DOUBLE) * CAST(nn - rr AS DOUBLE),
      |        CAST(0 AS DOUBLE))
      |    / nullif(CAST(nn * snn - sn * sn AS DOUBLE),
      |        CAST(0 AS DOUBLE))) > 3.8415
      |    WHEN true THEN 'significant' WHEN false THEN 'ns' END
      |    AS significant
      |FROM m""".stripMargin,
  ) { (s, d) =>
    val doc = Tables.documents(s, d)
      .filter(col("n_chars").isNotNull && col("lang").isNotNull)
      .select(
        when(col("n_chars") < 200, 0L)
          .when(col("n_chars") < 400, 1L).otherwise(2L).as("band"),
        when(col("lang") === "en", 1L).otherwise(0L).as("y"))
    val b = doc.groupBy(col("band"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("y")).cast("long").as("r"))
    val m = b.agg(sum(col("n")).cast("long").as("nn"),
      sum(col("r")).cast("long").as("rr"),
      sum(col("band") * col("n")).cast("long").as("sn"),
      sum(col("band") * col("band") * col("n")).cast("long").as("snn"),
      sum(col("band") * col("r")).cast("long").as("t"),
      max(when(col("band") === 0, col("n"))).cast("long").as("n0"),
      max(when(col("band") === 0, col("r"))).cast("long").as("r0"),
      max(when(col("band") === 1, col("n"))).cast("long").as("n1"),
      max(when(col("band") === 1, col("r"))).cast("long").as("r1"),
      max(when(col("band") === 2, col("n"))).cast("long").as("n2"),
      max(when(col("band") === 2, col("r"))).cast("long").as("r2"))
    val z2 = expr("""CAST(nn AS DOUBLE)
      |  * CAST(nn * t - rr * sn AS DOUBLE)
      |  * CAST(nn * t - rr * sn AS DOUBLE)
      |  / nullif(CAST(rr AS DOUBLE) * CAST(nn - rr AS DOUBLE),
      |      CAST(0 AS DOUBLE))
      |  / nullif(CAST(nn * snn - sn * sn AS DOUBLE),
      |      CAST(0 AS DOUBLE))""".stripMargin)
    m.select(col("nn").as("n_total"), col("rr").as("n_pos"),
      col("n0"), col("r0"), col("n1"), col("r1"), col("n2"), col("r2"),
      expr("CAST(nn * t - rr * sn AS BIGINT)").as("trend_num"),
      round(z2, 6).as("ca_z2"),
      // §5.7 nullable-boolean rule (r16): string verdict, NULL z2 → NULL
      when(z2 > 3.8415, lit("significant"))
        .when(z2 <= 3.8415, lit("ns")).as("significant"))
  }

  /** DIFFERENCE-IN-DIFFERENCES — the quasi-experimental estimator for
    * when assignment is NOT randomized per unit-time: users hash-split
    * into treated/control arms (the q154 device, 'dd|' salt), time split
    * at the span midpoint, and the effect on mean event value is
    * (ȳ_t,post − ȳ_t,pre) − (ȳ_c,post − ȳ_c,pre) — differencing away
    * both the stable arm difference and the common time trend that a
    * naive post-period comparison (q154's shape) would absorb into the
    * effect.
    *
    * Exactness: the four cell sums are exact int64 cents, each mean is
    * ONE double divide, and the DiD combination is a fixed-order chain
    * of four exact quotients; any empty cell → NULL effect via the
    * nullif on its count. The midpoint split (d₀+d₁+1)//2 is integer
    * calendar arithmetic — identical both engines (non-negative days,
    * §5.7 div row).
    *
    * Plan: one scan → 4-row cell aggregate (map-side combined) with the
    * span bounds broadcast; the q197 window-total idiom attaches the
    * single DiD estimate to every cell row. Scan-dominated at any size.
    */
  val q224DiffInDiff = Q(
    "q224_diff_in_diff",
    """WITH e AS (
      |  SELECT user_id,
      |    CAST(round(100 * value) AS BIGINT) AS cents,
      |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
      |    CAST(('0x' || substr(md5('dd|' || CAST(user_id AS VARCHAR)),
      |      1, 1)) AS BIGINT) % 2 AS treated
      |  FROM events
      |  WHERE ts IS NOT NULL AND value IS NOT NULL
      |    AND user_id IS NOT NULL
      |),
      |b AS (SELECT (min(day) + max(day) + 1) // 2 AS mid FROM e),
      |cells AS (
      |  SELECT e.treated,
      |    CASE WHEN e.day >= b.mid THEN 1 ELSE 0 END AS post,
      |    CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(e.cents) AS BIGINT) AS cents_sum
      |  FROM e CROSS JOIN b
      |  GROUP BY 1, 2
      |),
      |w AS (
      |  SELECT treated, post, n, cents_sum,
      |    CAST(sum(CASE WHEN treated = 1 AND post = 1 THEN cents_sum END)
      |        OVER () AS DOUBLE)
      |      / nullif(CAST(sum(CASE WHEN treated = 1 AND post = 1 THEN n
      |        END) OVER () AS DOUBLE), CAST(0 AS DOUBLE))
      |    - CAST(sum(CASE WHEN treated = 1 AND post = 0 THEN cents_sum
      |        END) OVER () AS DOUBLE)
      |      / nullif(CAST(sum(CASE WHEN treated = 1 AND post = 0 THEN n
      |        END) OVER () AS DOUBLE), CAST(0 AS DOUBLE))
      |    - (CAST(sum(CASE WHEN treated = 0 AND post = 1 THEN cents_sum
      |        END) OVER () AS DOUBLE)
      |      / nullif(CAST(sum(CASE WHEN treated = 0 AND post = 1 THEN n
      |        END) OVER () AS DOUBLE), CAST(0 AS DOUBLE))
      |    - CAST(sum(CASE WHEN treated = 0 AND post = 0 THEN cents_sum
      |        END) OVER () AS DOUBLE)
      |      / nullif(CAST(sum(CASE WHEN treated = 0 AND post = 0 THEN n
      |        END) OVER () AS DOUBLE), CAST(0 AS DOUBLE))) AS did
      |  FROM cells
      |)
      |SELECT treated, post, n,
      |  round(CAST(cents_sum AS DOUBLE) / nullif(CAST(n AS DOUBLE),
      |    CAST(0 AS DOUBLE)) / 100.0, 6) AS mean_value,
      |  round(did / 100.0, 6) AS did_effect
      |FROM w
      |ORDER BY treated, post""".stripMargin,
  ) { (s, d) =>
    val e = Tables.events(s, d)
      .filter(col("ts").isNotNull && col("value").isNotNull
        && col("user_id").isNotNull)
      .select(
        expr("CAST(round(100 * value) AS BIGINT)").as("cents"),
        expr("unix_micros(ts) div 86400000000").as("day"),
        (conv(substring(md5(concat(lit("dd|"),
          col("user_id").cast("string"))), 1, 1), 16, 10).cast("long") % 2)
          .as("treated"))
    val b = e.agg(expr("(min(day) + max(day) + 1) div 2").as("mid"))
    val cells = e.crossJoin(broadcast(b))
      .groupBy(col("treated"),
        when(col("day") >= col("mid"), 1L).otherwise(0L).as("post"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("cents")).cast("long").as("cents_sum"))
    val wAll = Window.partitionBy()
    def cell(tr: Int, po: Int, c: String): Column =
      sum(when(col("treated") === tr && col("post") === po, col(c)))
        .over(wAll).cast("double")
    def mean(tr: Int, po: Int): Column =
      cell(tr, po, "cents_sum") /
        nullif(cell(tr, po, "n"), lit(0.0))
    val w = cells.withColumn("did",
      mean(1, 1) - mean(1, 0) - (mean(0, 1) - mean(0, 0)))
    w.select(col("treated"), col("post"), col("n"),
        round(expr("""CAST(cents_sum AS DOUBLE)
          |  / nullif(CAST(n AS DOUBLE), CAST(0 AS DOUBLE))
          |  / 100.0""".stripMargin), 6).as("mean_value"),
        round(col("did") / 100.0, 6).as("did_effect"))
      .orderBy(col("treated"), col("post"))
  }
  /** CHAPMAN CAPTURE–RECAPTURE — coverage estimation with no ground
    * truth: treat consecutive weeks' active-user sets as two "captures"
    * and estimate the underlying population N̂ = (n₁+1)(n₂+1)/(m+1) − 1
    * from the overlap m — the ecology estimator a pipeline uses to ask
    * "how many users/entities exist that we HAVEN'T seen" (here
    * benchmarked against the observed two-week union, so the output is
    * also a self-diagnostic of the estimator's closure assumption).
    *
    * Exactness: n₁/n₂/m/union are exact distinct counts; the Chapman
    * quotient goes through ratio6's integer half-up rounding, the −1
    * shift and the coverage ratio finish fixed-order. m = 0 is HANDLED
    * (the +1 smoothing is the point of Chapman's correction — no NULL
    * needed); weeks index as (day−d₀)//7 with trailing partial weeks
    * counted as-is (stated).
    *
    * Plan: events collapse to (week, user) distinct pairs map-side;
    * consecutive weeks join on user for the overlap — all
    * calendar-bounded aggregates after the one row-proportional
    * distinct.
    */
  val q225CaptureRecapture = Q(
    "q225_capture_recapture",
    s"""WITH du AS (
      |  SELECT DISTINCT user_id,
      |    (epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000
      |      - (SELECT min(epoch_us(CAST(ts AS TIMESTAMP))
      |          // 86400000000) FROM events
      |         WHERE ts IS NOT NULL AND user_id IS NOT NULL))
      |      // 7 AS wk
      |  FROM events
      |  WHERE ts IS NOT NULL AND user_id IS NOT NULL
      |),
      |ws AS (SELECT wk, CAST(count(*) AS BIGINT) AS n FROM du
      |       GROUP BY 1),
      |ov AS (
      |  SELECT b.wk, CAST(count(*) AS BIGINT) AS m
      |  FROM du a JOIN du b
      |    ON b.user_id = a.user_id AND b.wk = a.wk + 1
      |  GROUP BY 1
      |),
      |un AS (
      |  SELECT wk, CAST(count(DISTINCT user_id) AS BIGINT) AS u
      |  FROM (
      |    SELECT wk, user_id FROM du
      |    UNION ALL
      |    SELECT wk + 1 AS wk, user_id FROM du
      |  ) z GROUP BY 1
      |),
      |pair AS (
      |  SELECT cur.wk, prev.n AS n1, cur.n AS n2,
      |    COALESCE(ov.m, 0) AS m, un.u AS seen
      |  FROM ws cur
      |  JOIN ws prev ON prev.wk = cur.wk - 1
      |  LEFT JOIN ov ON ov.wk = cur.wk
      |  JOIN un ON un.wk = cur.wk
      |)
      |SELECT wk AS week, n1, n2, m, seen,
      |  round(${Exact.Sql.ratio6("(n1 + 1) * (n2 + 1)", "m + 1")}
      |    - CAST(1 AS DOUBLE), 6) AS chapman_estimate,
      |  round((${Exact.Sql.ratio6("(n1 + 1) * (n2 + 1)", "m + 1")}
      |    - CAST(1 AS DOUBLE)) / CAST(seen AS DOUBLE), 6) AS coverage
      |FROM pair
      |ORDER BY week""".stripMargin,
  ) { (s, d) =>
    val base = Tables.events(s, d)
      .filter(col("ts").isNotNull && col("user_id").isNotNull)
      .select(col("user_id"),
        expr("unix_micros(ts) div 86400000000").as("day"))
    val d0 = base.agg(min(col("day")).as("d0"))
    val du = base.crossJoin(broadcast(d0))
      .select(col("user_id"),
        expr("(day - d0) div 7").as("wk"))
      .distinct()
      .transform(graft.operators.Iter.pin) // 4 consumers: sizes, both join sides, union
    val ws = du.groupBy(col("wk")).agg(count(lit(1)).cast("long").as("n"))
    val ov = du.select(col("wk").as("a_wk"), col("user_id"))
      .join(du.select(col("wk").as("b_wk"),
          col("user_id").as("b_user")),
        col("b_user") === col("user_id") && col("b_wk") === col("a_wk") + 1)
      .groupBy(col("b_wk").as("wk"))
      .agg(count(lit(1)).cast("long").as("m"))
    val un = du.select(col("wk"), col("user_id"))
      .union(du.select((col("wk") + 1).as("wk"), col("user_id")))
      .groupBy(col("wk"))
      .agg(countDistinct(col("user_id")).cast("long").as("u"))
    val pair = ws.select(col("wk"), col("n").as("n2"))
      .join(ws.select((col("wk") + 1).as("wk"), col("n").as("n1")), "wk")
      .join(ov, Seq("wk"), "left")
      .join(un, Seq("wk"))
      .select(col("wk"), col("n1"), col("n2"),
        coalesce(col("m"), lit(0L)).as("m"), col("u").as("seen"))
    val chap = Exact.ratio6("(n1 + 1) * (n2 + 1)", "m + 1") -
      lit(1).cast("double")
    pair.select(col("wk").as("week"), col("n1"), col("n2"), col("m"),
        col("seen"),
        round(chap, 6).as("chapman_estimate"),
        round(chap / col("seen").cast("double"), 6).as("coverage"))
      .orderBy(col("week"))
  }

  /** WALD–WOLFOWITZ RUNS TEST — the nonparametric randomness check
    * beside q221's parametric ACF: binarize each hourly count as
    * above/below the series mean (the EXACT integer cross-multiply
    * x·span > S — no float mean ever materializes; exact-mean hours are
    * excluded, the standard convention) and test whether the number of
    * RUNS of consecutive same-side hours is consistent with exchangeable
    * order: z² = (R − μ)²/σ², μ = 2n₁n₂/N + 1,
    * σ² = 2n₁n₂(2n₁n₂ − N)/(N²(N−1)). Too few runs = regime persistence,
    * too many = oscillation — both invisible to count-marginal tests.
    *
    * Exactness: R = 1 + Σ side-changes is pure integer window counting
    * over the excluded-filtered sequence; μ/σ² are fixed-order double
    * chains over exact int64 products (2n₁n₂ ≤ N² needs N ≤ 3.03e9 —
    * the q205 bound family). One-sided sequences (n₁·n₂ = 0) or N ≤ 1
    * → NULL via the explicit guard, never NaN.
    *
    * Plan: the q193 grid, a 1-row-per-type moment broadcast, one lag
    * window over the span-bounded filtered series, a 5-row finish.
    */
  val q226RunsTest = Q(
    "q226_runs_test",
    """WITH e AS (
      |  SELECT event_type,
      |    epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS m
      |  FROM events
      |  WHERE ts IS NOT NULL AND event_type IS NOT NULL
      |),
      |mc AS (SELECT event_type, m, count(*) AS cnt FROM e GROUP BY 1, 2),
      |b AS (SELECT event_type, min(m) AS m0, max(m) AS m1
      |      FROM mc GROUP BY 1),
      |grid AS (
      |  SELECT b.event_type, b.m0,
      |    unnest(range(0, b.m1 - b.m0 + 1)) AS t
      |  FROM b
      |),
      |x AS (
      |  SELECT g.event_type, g.t, COALESCE(mc.cnt, 0) AS x
      |  FROM grid g LEFT JOIN mc
      |    ON mc.event_type = g.event_type AND mc.m = g.m0 + g.t
      |),
      |mom AS (
      |  SELECT event_type, CAST(count(*) AS BIGINT) AS span,
      |    CAST(sum(x) AS BIGINT) AS s
      |  FROM x GROUP BY 1
      |),
      |sides AS (
      |  SELECT x.event_type, x.t,
      |    CASE WHEN x.x * m.span > m.s THEN 1 ELSE 0 END AS side
      |  FROM x JOIN mom m ON m.event_type = x.event_type
      |  WHERE x.x * m.span <> m.s
      |),
      |runs AS (
      |  SELECT event_type, side,
      |    CASE WHEN lag(side) OVER (PARTITION BY event_type ORDER BY t)
      |      IS DISTINCT FROM side THEN 1 ELSE 0 END AS chg
      |  FROM sides
      |),
      |agg AS (
      |  SELECT event_type,
      |    CAST(sum(side) AS BIGINT) AS n1,
      |    CAST(count(*) - sum(side) AS BIGINT) AS n2,
      |    CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(chg) AS BIGINT) AS r
      |  FROM runs GROUP BY 1
      |)
      |SELECT event_type, n1 AS n_above, n2 AS n_below,
      |  r AS runs,
      |  round(CASE WHEN n1 > 0 AND n2 > 0 AND n > 1 THEN
      |    (CAST(r AS DOUBLE)
      |      - (CAST(2 * n1 * n2 AS DOUBLE) / CAST(n AS DOUBLE)
      |        + CAST(1 AS DOUBLE)))
      |    * (CAST(r AS DOUBLE)
      |      - (CAST(2 * n1 * n2 AS DOUBLE) / CAST(n AS DOUBLE)
      |        + CAST(1 AS DOUBLE)))
      |    / nullif(CAST(2 * n1 * n2 AS DOUBLE)
      |      * CAST(2 * n1 * n2 - n AS DOUBLE)
      |      / CAST(n * n AS DOUBLE) / CAST(n - 1 AS DOUBLE),
      |      CAST(0 AS DOUBLE))
      |    ELSE NULL END, 6) AS z2,
      |  CASE (CASE WHEN n1 > 0 AND n2 > 0 AND n > 1 THEN
      |    (CAST(r AS DOUBLE)
      |      - (CAST(2 * n1 * n2 AS DOUBLE) / CAST(n AS DOUBLE)
      |        + CAST(1 AS DOUBLE)))
      |    * (CAST(r AS DOUBLE)
      |      - (CAST(2 * n1 * n2 AS DOUBLE) / CAST(n AS DOUBLE)
      |        + CAST(1 AS DOUBLE)))
      |    / nullif(CAST(2 * n1 * n2 AS DOUBLE)
      |      * CAST(2 * n1 * n2 - n AS DOUBLE)
      |      / CAST(n * n AS DOUBLE) / CAST(n - 1 AS DOUBLE),
      |      CAST(0 AS DOUBLE))
      |    ELSE NULL END) <= 3.8415
      |    WHEN true THEN 'random' WHEN false THEN 'patterned' END
      |    AS random_order
      |FROM agg
      |ORDER BY event_type""".stripMargin,
  ) { (s, d) =>
    val mc = Tables.events(s, d)
      .filter(col("ts").isNotNull && col("event_type").isNotNull)
      .select(col("event_type"),
        expr("unix_micros(ts) div 3600000000").as("m"))
      .groupBy(col("event_type"), col("m")).agg(count(lit(1)).as("cnt"))
    val grid = mc.groupBy(col("event_type"))
      .agg(min(col("m")).as("m0"), max(col("m")).as("m1"))
      .select(col("event_type").as("g_type"), col("m0"),
        explode(sequence(lit(0L), col("m1") - col("m0"))).as("t"))
    val x = grid.join(mc,
        col("g_type") === mc("event_type")
          && mc("m") === col("m0") + col("t"), "left")
      .select(col("g_type").as("event_type"), col("t"),
        coalesce(col("cnt"), lit(0L)).as("x"))
      .transform(graft.operators.Iter.pin) // 2 consumers: moments and the side sequence
    val mom = x.groupBy(col("event_type"))
      .agg(count(lit(1)).cast("long").as("span"),
        sum(col("x")).cast("long").as("s"))
    val sides = x.join(mom, "event_type")
      .filter(col("x") * col("span") =!= col("s"))
      .select(col("event_type"), col("t"),
        when(col("x") * col("span") > col("s"), 1L).otherwise(0L)
          .as("side"))
    val runs = sides.select(col("event_type"), col("side"),
      when(lag(col("side"), 1).over(
          Window.partitionBy(col("event_type")).orderBy(col("t")))
        <=> col("side"), 0L).otherwise(1L).as("chg"))
    val agg = runs.groupBy(col("event_type"))
      .agg(sum(col("side")).cast("long").as("n1"),
        (count(lit(1)) - sum(col("side"))).cast("long").as("n2"),
        count(lit(1)).cast("long").as("n"),
        sum(col("chg")).cast("long").as("r"))
    val z2 = expr("""CASE WHEN n1 > 0 AND n2 > 0 AND n > 1 THEN
      |  (CAST(r AS DOUBLE)
      |    - (CAST(2 * n1 * n2 AS DOUBLE) / CAST(n AS DOUBLE)
      |      + CAST(1 AS DOUBLE)))
      |  * (CAST(r AS DOUBLE)
      |    - (CAST(2 * n1 * n2 AS DOUBLE) / CAST(n AS DOUBLE)
      |      + CAST(1 AS DOUBLE)))
      |  / nullif(CAST(2 * n1 * n2 AS DOUBLE)
      |    * CAST(2 * n1 * n2 - n AS DOUBLE)
      |    / CAST(n * n AS DOUBLE) / CAST(n - 1 AS DOUBLE),
      |    CAST(0 AS DOUBLE))
      |  ELSE NULL END""".stripMargin)
    agg.select(col("event_type"), col("n1").as("n_above"),
        col("n2").as("n_below"), col("r").as("runs"),
        round(z2, 6).as("z2"),
        // §5.7 nullable-boolean rule (r16): string verdict, NULL z2 → NULL
        when(z2 <= 3.8415, lit("random"))
          .when(z2 > 3.8415, lit("patterned")).as("random_order"))
      .orderBy(col("event_type"))
  }
  /** CLIFF'S DELTA EFFECT SIZE — the magnitude companion to q207's
    * Mann–Whitney TEST: with 20k observations per arm the U test flags
    * trivia as "significant"; δ = P(X>Y) − P(X<Y) = 2U/(n₁n₂) − 1
    * reports HOW SEPARATED the two variants' value distributions
    * actually are, on the ordinal [−1, 1] scale with Romano's
    * conventional magnitude bands (0.147/0.33/0.474). Ship decisions
    * read this row, not the p-value.
    *
    * Exactness: δ = (u2 − n₁n₂)/(n₁n₂) is ONE double divide of exact
    * int64s off q207's run-length midrank machinery (2U and the tie
    * handling come for free — δ with midranks IS the tie-adjusted
    * dominance statistic); the band classification compares that exact
    * double against literal thresholds, so the label is deterministic.
    * One-sided splits → NULL δ and label.
    *
    * Plan: identical to q207 — run-length aggregate, category-bounded
    * window, 5-row finish.
    */
  val q229CliffsDelta = Q(
    "q229_cliffs_delta",
    """WITH e AS (
      |  SELECT event_type,
      |    CAST(round(100 * value) AS BIGINT) AS cents,
      |    CAST(('0x' || substr(md5('mw|' || CAST(user_id AS VARCHAR)), 1, 1))
      |      AS BIGINT) % 2 AS variant
      |  FROM events
      |  WHERE value IS NOT NULL AND user_id IS NOT NULL
      |    AND event_type IS NOT NULL
      |),
      |runs AS (
      |  SELECT event_type, cents,
      |    CAST(count(*) AS BIGINT) AS cnt,
      |    CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS cnt1
      |  FROM e GROUP BY 1, 2
      |),
      |rk AS (
      |  SELECT event_type, cnt, cnt1,
      |    2 * (sum(cnt) OVER (PARTITION BY event_type ORDER BY cents
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - cnt)
      |      + cnt + 1 AS mid2
      |  FROM runs
      |),
      |agg AS (
      |  SELECT event_type,
      |    CAST(sum(cnt1) AS BIGINT) AS n1,
      |    CAST(sum(cnt) - sum(cnt1) AS BIGINT) AS n2,
      |    CAST(sum(cnt1 * mid2) - sum(cnt1) * (sum(cnt1) + 1) AS BIGINT)
      |      AS u2
      |  FROM rk GROUP BY 1
      |),
      |d AS (
      |  SELECT event_type, n1, n2,
      |    CASE WHEN n1 > 0 AND n2 > 0 THEN
      |      CAST(u2 - n1 * n2 AS DOUBLE) / CAST(n1 * n2 AS DOUBLE)
      |    ELSE NULL END AS delta
      |  FROM agg
      |)
      |SELECT event_type, n1, n2,
      |  round(delta, 6) AS cliffs_delta,
      |  CASE WHEN delta IS NULL THEN NULL
      |    WHEN abs(delta) < 0.147 THEN 'negligible'
      |    WHEN abs(delta) < 0.33 THEN 'small'
      |    WHEN abs(delta) < 0.474 THEN 'medium'
      |    ELSE 'large' END AS magnitude
      |FROM d
      |ORDER BY event_type""".stripMargin,
  ) { (s, d) =>
    val e = Tables.events(s, d)
      .filter(col("value").isNotNull && col("user_id").isNotNull
        && col("event_type").isNotNull)
      .select(col("event_type"),
        expr("CAST(round(100 * value) AS BIGINT)").as("cents"),
        (conv(substring(md5(concat(lit("mw|"),
          col("user_id").cast("string"))), 1, 1), 16, 10).cast("long") % 2)
          .as("variant"))
    val runs = e.groupBy(col("event_type"), col("cents"))
      .agg(count(lit(1)).cast("long").as("cnt"),
        sum(when(col("variant") === 0, 1L).otherwise(0L)).cast("long")
          .as("cnt1"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("cents"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val rk = runs.withColumn("mid2",
      lit(2) * (sum(col("cnt")).over(w) - col("cnt")) + col("cnt") + 1)
    val agg = rk.groupBy(col("event_type"))
      .agg(sum(col("cnt1")).cast("long").as("n1"),
        (sum(col("cnt")) - sum(col("cnt1"))).cast("long").as("n2"),
        (sum(col("cnt1") * col("mid2"))
          - sum(col("cnt1")) * (sum(col("cnt1")) + 1)).cast("long")
          .as("u2"))
    val dd = agg.withColumn("delta", expr(
      """CASE WHEN n1 > 0 AND n2 > 0 THEN
        |  CAST(u2 - n1 * n2 AS DOUBLE) / CAST(n1 * n2 AS DOUBLE)
        |ELSE NULL END""".stripMargin))
    dd.select(col("event_type"), col("n1"), col("n2"),
        round(col("delta"), 6).as("cliffs_delta"),
        expr("""CASE WHEN delta IS NULL THEN NULL
          |  WHEN abs(delta) < 0.147 THEN 'negligible'
          |  WHEN abs(delta) < 0.33 THEN 'small'
          |  WHEN abs(delta) < 0.474 THEN 'medium'
          |  ELSE 'large' END""".stripMargin).as("magnitude"))
      .orderBy(col("event_type"))
  }

  /** GOOD–TURING UNSEEN MASS + CHAO1 RICHNESS — the "how much corpus
    * haven't we seen" estimators, per source: the Good–Turing leave-one-
    * out argument prices the probability that the NEXT token is a new
    * type at N₁/N (hapax share), and Chao1 Ŝ = V + N₁²/(2N₂) estimates
    * the total vocabulary including unseen types. The acquisition
    * planner's pair: q194 fits HOW vocabulary grows, these price WHERE
    * IT IS NOW. On this fixture's near-closed 31-word template
    * vocabulary both (almost) collapse — unseen mass < 1% with Chao1 ≈
    * V — the generated-corpus signature the suite pins.
    *
    * Exactness: N, V, N₁, N₂ are exact int64 counts off the term
    * histogram; unseen mass goes through ratio6, the Chao1 correction
    * is one fixed-order divide of exact int64s (N₁² needs N₁ ≤ 3.03e9 —
    * the q205 family); N₂ = 0 → NULL Chao1 via nullif (the
    * bias-corrected N₁(N₁−1)/(2(N₂+1)) variant is the production dial
    * for that regime, documented not silently swapped).
    *
    * Plan: tokenize → (source, term) count → per-source frequency-of-
    * frequency aggregate — map-side combined, vocabulary-bounded.
    */
  val q230GoodTuring = Q(
    "q230_good_turing",
    s"""WITH tok AS (
      |  SELECT source, unnest(string_split(text, ' ')) AS w
      |  FROM documents
      |  WHERE text IS NOT NULL AND source IS NOT NULL
      |),
      |tc AS (
      |  SELECT source, w, CAST(count(*) AS BIGINT) AS c FROM tok
      |  WHERE w <> '' GROUP BY 1, 2
      |),
      |agg AS (
      |  SELECT source,
      |    CAST(sum(c) AS BIGINT) AS n,
      |    CAST(count(*) AS BIGINT) AS v,
      |    CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
      |    CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2
      |  FROM tc GROUP BY 1
      |)
      |SELECT source, n AS n_tokens, v AS vocab,
      |  n1 AS hapax, n2 AS doubleton,
      |  ${Exact.Sql.ratio6("n1", "n")} AS unseen_mass,
      |  round(CAST(v AS DOUBLE)
      |    + CAST(n1 * n1 AS DOUBLE)
      |      / nullif(CAST(2 * n2 AS DOUBLE), CAST(0 AS DOUBLE)), 6)
      |    AS chao1
      |FROM agg
      |ORDER BY source""".stripMargin,
  ) { (s, d) =>
    val tc = Fan.fan(Tables.documents(s, d))
      .filter(col("text").isNotNull && col("source").isNotNull)
      .select(col("source"), explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("source"), col("w"))
      .agg(count(lit(1)).cast("long").as("c"))
    val agg = tc.groupBy(col("source"))
      .agg(sum(col("c")).cast("long").as("n"),
        count(lit(1)).cast("long").as("v"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).cast("long").as("n1"),
        sum(when(col("c") === 2, 1L).otherwise(0L)).cast("long").as("n2"))
    agg.select(col("source"), col("n").as("n_tokens"),
        col("v").as("vocab"), col("n1").as("hapax"),
        col("n2").as("doubleton"),
        Exact.ratio6("n1", "n").as("unseen_mass"),
        round(expr("""CAST(v AS DOUBLE)
          |  + CAST(n1 * n1 AS DOUBLE)
          |    / nullif(CAST(2 * n2 AS DOUBLE), CAST(0 AS DOUBLE))"""
          .stripMargin), 6).as("chao1"))
      .orderBy(col("source"))
  }

  /** MANN–KENDALL TREND TEST — the significance companion to q209's
    * Theil–Sen slope (the pair ships together in every environmental /
    * SRE trend stack): S = Σ_{i<j} sign(c_j − c_i) over the dense daily
    * series, tie-corrected variance
    * Var(S) = [n(n−1)(2n+5) − Σ_t t(t−1)(2t+5)]/18, and the
    * continuity-corrected z² = (|S|−1)²·18/den (0 when S = 0). q209
    * says HOW STEEP; this says WHETHER the monotone direction is real —
    * distribution-free, so a spike-heavy counter series can't fake it
    * through variance inflation.
    *
    * Exactness: S and the tie mass are pure int64 counting (the q209
    * day-pair lattice and a per-count-value run aggregate); z²'s
    * numerator squares an exact int64 in doubles (|S| ≤ n(n−1)/2), the
    * /18 folds into one fixed-order chain. Degenerate all-tied series
    * (den = 0) → NULL via nullif; S = 0 → exact 0.
    *
    * Plan: span²/2 calendar-bounded day pairs (435 at a month) + a
    * value-bounded tie aggregate; never row-proportional.
    */
  val q231MannKendall = Q(
    "q231_mann_kendall",
    """WITH e AS (
      |  SELECT event_type,
      |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day
      |  FROM events
      |  WHERE ts IS NOT NULL AND event_type IS NOT NULL
      |),
      |dc AS (SELECT event_type, day, CAST(count(*) AS BIGINT) AS cnt
      |       FROM e GROUP BY 1, 2),
      |b AS (SELECT event_type, min(day) AS d0, max(day) AS d1
      |      FROM dc GROUP BY 1),
      |grid AS (
      |  SELECT b.event_type, unnest(range(0, b.d1 - b.d0 + 1)) AS t,
      |    b.d0
      |  FROM b
      |),
      |x AS (
      |  SELECT g.event_type, g.t, COALESCE(dc.cnt, 0) AS c
      |  FROM grid g LEFT JOIN dc
      |    ON dc.event_type = g.event_type AND dc.day = g.d0 + g.t
      |),
      |sgn AS (
      |  SELECT a.event_type,
      |    CAST(sum(CASE WHEN b2.c > a.c THEN 1
      |      WHEN b2.c < a.c THEN -1 ELSE 0 END) AS BIGINT) AS s,
      |    CAST(count(*) AS BIGINT) AS n_pairs
      |  FROM x a JOIN x b2
      |    ON a.event_type = b2.event_type AND b2.t > a.t
      |  GROUP BY 1
      |),
      |nn AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM x
      |       GROUP BY 1),
      |ties AS (
      |  SELECT event_type,
      |    CAST(sum(tc * (tc - 1) * (2 * tc + 5)) AS BIGINT) AS tmass
      |  FROM (
      |    SELECT event_type, c, CAST(count(*) AS BIGINT) AS tc
      |    FROM x GROUP BY 1, 2
      |  ) z GROUP BY 1
      |),
      |fin AS (
      |  SELECT s.event_type, nn.n, s.s, s.n_pairs,
      |    CAST(nn.n * (nn.n - 1) * (2 * nn.n + 5) - ties.tmass
      |      AS BIGINT) AS den18
      |  FROM sgn s
      |  JOIN nn ON nn.event_type = s.event_type
      |  JOIN ties ON ties.event_type = s.event_type
      |)
      |SELECT event_type, n AS n_days, n_pairs, s AS mk_s,
      |  round(CASE WHEN s = 0 THEN CAST(0 AS DOUBLE) ELSE
      |    CAST((abs(s) - 1) * (abs(s) - 1) AS DOUBLE)
      |      * CAST(18 AS DOUBLE)
      |      / nullif(CAST(den18 AS DOUBLE), CAST(0 AS DOUBLE))
      |    END, 6) AS z2,
      |  CASE WHEN s > 0 THEN 'increasing'
      |    WHEN s < 0 THEN 'decreasing' ELSE 'none' END AS direction,
      |  CASE (CASE WHEN s = 0 THEN CAST(0 AS DOUBLE) ELSE
      |    CAST((abs(s) - 1) * (abs(s) - 1) AS DOUBLE)
      |      * CAST(18 AS DOUBLE)
      |      / nullif(CAST(den18 AS DOUBLE), CAST(0 AS DOUBLE))
      |    END) > 3.8415
      |    WHEN true THEN 'significant' WHEN false THEN 'ns' END
      |    AS significant
      |FROM fin
      |ORDER BY event_type""".stripMargin,
  ) { (s, d) =>
    val dc = Tables.events(s, d)
      .filter(col("ts").isNotNull && col("event_type").isNotNull)
      .select(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("day"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).cast("long").as("cnt"))
    val grid = dc.groupBy(col("event_type"))
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(col("event_type").as("g_type"), col("d0"),
        explode(sequence(lit(0L), col("d1") - col("d0"))).as("t"))
    val x = grid.join(dc,
        col("g_type") === dc("event_type")
          && dc("day") === col("d0") + col("t"), "left")
      .select(col("g_type").as("event_type"), col("t"),
        coalesce(col("cnt"), lit(0L)).as("c"))
      .transform(graft.operators.Iter.pin) // 3 consumers: the pair join (twice) and ties
    val a1 = x.select(col("event_type").as("e1"), col("t").as("t1"),
      col("c").as("c1"))
    val a2 = x.select(col("event_type").as("e2"), col("t").as("t2"),
      col("c").as("c2"))
    val sgn = a1.join(a2, col("e1") === col("e2") && col("t2") > col("t1"))
      .groupBy(col("e1").as("event_type"))
      .agg(sum(when(col("c2") > col("c1"), 1L)
          .when(col("c2") < col("c1"), -1L).otherwise(0L)).cast("long")
          .as("s"),
        count(lit(1)).cast("long").as("n_pairs"))
    val nn = x.groupBy(col("event_type"))
      .agg(count(lit(1)).cast("long").as("n"))
    val ties = x.groupBy(col("event_type"), col("c"))
      .agg(count(lit(1)).cast("long").as("tc"))
      .groupBy(col("event_type"))
      .agg(sum(col("tc") * (col("tc") - 1) * (lit(2) * col("tc") + 5))
        .cast("long").as("tmass"))
    val fin = sgn.join(nn, "event_type").join(ties, "event_type")
      .withColumn("den18",
        expr("CAST(n * (n - 1) * (2 * n + 5) - tmass AS BIGINT)"))
    val z2 = expr("""CASE WHEN s = 0 THEN CAST(0 AS DOUBLE) ELSE
      |  CAST((abs(s) - 1) * (abs(s) - 1) AS DOUBLE)
      |    * CAST(18 AS DOUBLE)
      |    / nullif(CAST(den18 AS DOUBLE), CAST(0 AS DOUBLE))
      |  END""".stripMargin)
    fin.select(col("event_type"), col("n").as("n_days"), col("n_pairs"),
        col("s").as("mk_s"), round(z2, 6).as("z2"),
        expr("""CASE WHEN s > 0 THEN 'increasing'
          |  WHEN s < 0 THEN 'decreasing' ELSE 'none' END""".stripMargin)
          .as("direction"),
        // §5.7 nullable-boolean rule (r16): string verdict, NULL z2 → NULL
        when(z2 > 3.8415, lit("significant"))
          .when(z2 <= 3.8415, lit("ns")).as("significant"))
      .orderBy(col("event_type"))
  }

  /** THEIL INDEX DECOMPOSITION — inequality ATTRIBUTION, the question
    * q147's Gini cannot answer: total length inequality
    * T = Σ(xᵢ/X)·ln(xᵢ·n/X) over documents splits EXACTLY (a property
    * unique to the entropy family) into between-source inequality
    * T_b = Σ_g (X_g/X)·ln(X_g·n/(X·n_g)) plus the share-weighted
    * within-source terms Σ_g (X_g/X)·T_g — so the operator reports not
    * just "how unequal" but WHOSE slice of the mix carries the
    * inequality (the curation lever: rebalance sources vs re-filter
    * inside one).
    *
    * Exactness: all masses are exact int64 (n_chars sums); every term
    * is share × float-cast-ln of a fixed-order exact quotient, summed
    * as DECIMAL(18,9); the within/between split is reported FROM ITS
    * DEFINITION on both engines, and the decomposition identity
    * T ≈ T_w + T_b (exact in ℝ, float-cast-ln-approximate here) is the
    * SUITE's invariant, not an engine assumption. x > 0 guaranteed by
    * the n_chars > 0 filter (stated).
    *
    * Plan: one scan → per-source mass aggregate + per-doc term rows
    * that collapse map-side into per-source decimal sums; the final
    * frame is source-bounded with the q197 window-total idiom.
    */
  val q232TheilDecomposition = Q(
    "q232_theil_decomposition",
    """WITH d AS (
      |  SELECT source, CAST(n_chars AS BIGINT) AS x FROM documents
      |  WHERE source IS NOT NULL AND n_chars IS NOT NULL AND n_chars > 0
      |),
      |g AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS ng,
      |    CAST(sum(x) AS BIGINT) AS xg
      |  FROM d GROUP BY 1
      |),
      |tot AS (
      |  SELECT CAST(sum(ng) AS BIGINT) AS n, CAST(sum(xg) AS BIGINT)
      |    AS xx
      |  FROM g
      |),
      |terms AS (
      |  SELECT d.source,
      |    CAST(CAST(d.x AS DOUBLE) / CAST(g.xg AS DOUBLE)
      |      * CAST(ln(CAST(d.x AS DOUBLE) * CAST(g.ng AS DOUBLE)
      |          / CAST(g.xg AS DOUBLE)) AS FLOAT)
      |      AS DECIMAL(18,9)) AS tg_term
      |  FROM d JOIN g ON g.source = d.source
      |),
      |tg AS (
      |  SELECT source, sum(tg_term) AS t_g FROM terms GROUP BY 1
      |),
      |per AS (
      |  SELECT g.source, g.ng, g.xg, tot.n, tot.xx,
      |    CAST(tg.t_g AS DOUBLE) AS t_g,
      |    CAST(g.xg AS DOUBLE) / CAST(tot.xx AS DOUBLE) AS share,
      |    CAST(g.xg AS DOUBLE) / CAST(tot.xx AS DOUBLE)
      |      * CAST(tg.t_g AS DOUBLE) AS within_contrib,
      |    CAST(g.xg AS DOUBLE) / CAST(tot.xx AS DOUBLE)
      |      * CAST(ln(CAST(g.xg AS DOUBLE) * CAST(tot.n AS DOUBLE)
      |          / (CAST(tot.xx AS DOUBLE) * CAST(g.ng AS DOUBLE)))
      |        AS FLOAT) AS between_contrib
      |  FROM g CROSS JOIN tot
      |  JOIN tg ON tg.source = g.source
      |),
      |w AS (
      |  SELECT source, ng, xg, t_g, share, within_contrib,
      |    between_contrib,
      |    sum(CAST(within_contrib AS DECIMAL(18,9))) OVER () AS tw,
      |    sum(CAST(between_contrib AS DECIMAL(18,9))) OVER () AS tb
      |  FROM per
      |)
      |SELECT source, ng AS n_docs, xg AS mass,
      |  round(share, 6) AS share,
      |  round(t_g, 6) AS theil_within_group,
      |  round(within_contrib, 6) AS within_contrib,
      |  round(between_contrib, 6) AS between_contrib,
      |  CAST(round(tw, 6) AS DOUBLE) AS theil_within_total,
      |  CAST(round(tb, 6) AS DOUBLE) AS theil_between_total,
      |  CAST(round(tw + tb, 6) AS DOUBLE) AS theil_total
      |FROM w
      |ORDER BY source""".stripMargin,
  ) { (s, d) =>
    val doc = Tables.documents(s, d)
      .filter(col("source").isNotNull && col("n_chars").isNotNull
        && col("n_chars") > 0)
      .select(col("source"), col("n_chars").cast("long").as("x"))
    val g = doc.groupBy(col("source"))
      .agg(count(lit(1)).cast("long").as("ng"),
        sum(col("x")).cast("long").as("xg"))
      .transform(graft.operators.Iter.pin) // 3 consumers: totals, terms join, the finish
    val tot = g.agg(sum(col("ng")).cast("long").as("n"),
      sum(col("xg")).cast("long").as("xx"))
    val tg = doc.join(g, "source")
      .select(col("source"), expr(
        """CAST(CAST(x AS DOUBLE) / CAST(xg AS DOUBLE)
          |  * CAST(ln(CAST(x AS DOUBLE) * CAST(ng AS DOUBLE)
          |      / CAST(xg AS DOUBLE)) AS FLOAT)
          |  AS DECIMAL(18,9))""".stripMargin).as("tg_term"))
      .groupBy(col("source")).agg(sum(col("tg_term")).as("t_g"))
    val per = g.crossJoin(broadcast(tot)).join(tg, "source")
      .select(col("source"), col("ng"), col("xg"),
        col("t_g").cast("double").as("t_g"),
        expr("CAST(xg AS DOUBLE) / CAST(xx AS DOUBLE)").as("share"),
        expr("""CAST(xg AS DOUBLE) / CAST(xx AS DOUBLE)
          |  * CAST(t_g AS DOUBLE)""".stripMargin).as("within_contrib"),
        expr("""CAST(xg AS DOUBLE) / CAST(xx AS DOUBLE)
          |  * CAST(ln(CAST(xg AS DOUBLE) * CAST(n AS DOUBLE)
          |      / (CAST(xx AS DOUBLE) * CAST(ng AS DOUBLE)))
          |    AS FLOAT)""".stripMargin).as("between_contrib"))
    val wAll = Window.partitionBy()
    val w = per
      .withColumn("tw",
        sum(expr("CAST(within_contrib AS DECIMAL(18,9))")).over(wAll))
      .withColumn("tb",
        sum(expr("CAST(between_contrib AS DECIMAL(18,9))")).over(wAll))
    w.select(col("source"), col("ng").as("n_docs"), col("xg").as("mass"),
        round(col("share"), 6).as("share"),
        round(col("t_g"), 6).as("theil_within_group"),
        round(col("within_contrib"), 6).as("within_contrib"),
        round(col("between_contrib"), 6).as("between_contrib"),
        round(col("tw"), 6).cast("double").as("theil_within_total"),
        round(col("tb"), 6).cast("double").as("theil_between_total"),
        round(col("tw") + col("tb"), 6).cast("double").as("theil_total"))
      .orderBy(col("source"))
  }
  /** BAYESIAN-AVERAGE LEADERBOARD — the small-sample ranking fix (the
    * IMDB/beta-prior formula): ranking users by RAW purchase rate lets a
    * 1-for-2 user beat a 60-for-200 regular; shrinking every rate toward
    * the global prior with m = 20 pseudo-events,
    * shrunk = (x_u + m·p̂)/(n_u + m), makes evidence count. The output
    * is the top-20 by shrunk rate WITH both ranks, so the rank movement
    * (the whole point of shrinkage) is visible per row.
    *
    * Exactness: the shrunk rate is the exact int64 rational
    * (x_u·N + m·X)/(N·(n_u + m)) — the global prior p̂ = X/N never
    * materializes as a float; ORDERING happens on one double divide of
    * those exact int64s (identical bits both engines, the q188 argmax
    * discipline) with the user_id tie-break; displayed rates go through
    * ratio6/round. Bound: x_u·N ≤ 2⁶³ needs N ≤ 9.2e18/max(x_u) —
    * beyond, divide p̂ once in doubles (documented).
    *
    * Plan: one scan → per-user aggregate (map-side combined), a 1-row
    * global broadcast, two user-bounded rank windows sharing one sort
    * each. The q142 two-pass rank decomposition is the >10⁹-user dial.
    */
  val q233BayesAverage = Q(
    "q233_bayes_average",
    s"""WITH u AS (
      |  SELECT user_id, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS x
      |  FROM events WHERE user_id IS NOT NULL
      |  GROUP BY 1
      |),
      |g AS (SELECT CAST(sum(n) AS BIGINT) AS nn,
      |        CAST(sum(x) AS BIGINT) AS xx FROM u),
      |sc AS (
      |  SELECT u.user_id, u.n, u.x, g.nn, g.xx,
      |    CAST(u.x * g.nn + 20 * g.xx AS DOUBLE)
      |      / CAST(g.nn * (u.n + 20) AS DOUBLE) AS shrunk
      |  FROM u CROSS JOIN g
      |),
      |rk AS (
      |  SELECT user_id, n, x, shrunk,
      |    row_number() OVER (ORDER BY CAST(x AS DOUBLE) / CAST(n AS
      |      DOUBLE) DESC, user_id) AS raw_rank,
      |    row_number() OVER (ORDER BY shrunk DESC, user_id)
      |      AS shrunk_rank
      |  FROM sc
      |)
      |SELECT user_id, n AS n_events, x AS n_purchases,
      |  ${Exact.Sql.ratio6("x", "n")} AS raw_rate,
      |  round(shrunk, 6) AS shrunk_rate,
      |  raw_rank, shrunk_rank
      |FROM rk
      |WHERE shrunk_rank <= 20
      |ORDER BY shrunk_rank""".stripMargin,
  ) { (s, d) =>
    val u = Tables.events(s, d)
      .filter(col("user_id").isNotNull)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .cast("long").as("x"))
    val g = u.agg(sum(col("n")).cast("long").as("nn"),
      sum(col("x")).cast("long").as("xx"))
    val sc = u.crossJoin(broadcast(g))
      .withColumn("shrunk", expr(
        """CAST(x * nn + 20 * xx AS DOUBLE)
          |  / CAST(nn * (n + 20) AS DOUBLE)""".stripMargin))
    val rk = sc.select(col("user_id"), col("n"), col("x"), col("shrunk"),
      row_number().over(Window.orderBy(
        expr("CAST(x AS DOUBLE) / CAST(n AS DOUBLE)").desc,
        col("user_id").asc)).as("raw_rank"),
      row_number().over(Window.orderBy(col("shrunk").desc,
        col("user_id").asc)).as("shrunk_rank"))
    rk.filter(col("shrunk_rank") <= 20)
      .select(col("user_id"), col("n").as("n_events"),
        col("x").as("n_purchases"),
        Exact.ratio6("x", "n").as("raw_rate"),
        round(col("shrunk"), 6).as("shrunk_rate"),
        col("raw_rank"), col("shrunk_rank"))
      .orderBy(col("shrunk_rank"))
  }

  /** EXPONENTIAL-GAP KS — "are arrivals Poisson?": per event type, fit
    * the exponential MLE λ = n/Σg to the inter-event gaps and measure
    * the one-sample Kolmogorov–Smirnov D against the fitted CDF —
    * bursty traffic (q178's subject) fails high, dispatcher-thinned
    * traffic fails low. Completes the arrival-process triple: q226 asks
    * "random ORDER?", q221 "serial correlation?", this "exponential
    * LAW?". The q140 KS device refit from two-sample empirical to
    * one-sample parametric.
    *
    * Exactness: gaps are exact int64 µs off the (us, event_id) total
    * order; F_fit(g) = 1 − expf(−λg) with one fixed-order double chain
    * and the float-cast exp; F_emp steps i/n are exact divides off
    * row_number positions (valid on tie runs: the sup over a step
    * function is attained at run edges, and per-row i/n–F comparisons
    * cover every edge); D is a max over doubles. The mean gap reports
    * in ms through ratio6 — round(double, 6) on a ~10¹⁰-µs mean is
    * past double precision and diverged by an ulp cross-engine (§5.7's
    * rounding family, new instance). The 1.36/√n threshold
    * is the asymptotic 95% band — STATED as the engine's definition
    * (with the fitted-λ conservatism noted), not hidden. Types with no
    * gaps (single event) are excluded by definition.
    *
    * Plan: one sort per type for gaps, one for the D scan — both
    * type-partitioned windows; a 5-row finish.
    */
  val q234ExpGapKs = Q(
    "q234_exp_gap_ks",
    s"""WITH e AS (
      |  SELECT event_type, event_id,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS us
      |  FROM events
      |  WHERE ts IS NOT NULL AND event_type IS NOT NULL
      |),
      |gaps AS (
      |  SELECT event_type,
      |    us - lag(us) OVER (PARTITION BY event_type
      |      ORDER BY us, event_id) AS gp
      |  FROM e
      |),
      |gg AS (SELECT event_type, gp FROM gaps WHERE gp IS NOT NULL),
      |mom AS (
      |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(gp) AS BIGINT) AS sg
      |  FROM gg GROUP BY 1
      |),
      |rk AS (
      |  SELECT g.event_type, g.gp, m.n, m.sg,
      |    row_number() OVER (PARTITION BY g.event_type
      |      ORDER BY g.gp) AS i,
      |    CAST(1 AS DOUBLE)
      |      - CAST(exp(CAST(0 AS DOUBLE)
      |          - CAST(m.n AS DOUBLE) / CAST(m.sg AS DOUBLE)
      |            * CAST(g.gp AS DOUBLE)) AS FLOAT) AS ffit
      |  FROM gg g JOIN mom m ON m.event_type = g.event_type
      |),
      |dd AS (
      |  SELECT event_type, n, sg,
      |    max(CASE WHEN CAST(i AS DOUBLE) / CAST(n AS DOUBLE) - ffit
      |        > ffit - CAST(i - 1 AS DOUBLE) / CAST(n AS DOUBLE)
      |      THEN CAST(i AS DOUBLE) / CAST(n AS DOUBLE) - ffit
      |      ELSE ffit - CAST(i - 1 AS DOUBLE) / CAST(n AS DOUBLE)
      |      END) AS d
      |  FROM rk GROUP BY 1, 2, 3
      |)
      |SELECT event_type, n AS n_gaps,
      |  ${Exact.Sql.ratio6Big("sg", "n * 1000")} AS mean_gap_ms,
      |  round(d, 6) AS ks_d,
      |  CASE d < CAST(1.36 AS DOUBLE) / sqrt(CAST(n AS DOUBLE))
      |    WHEN true THEN 'poisson_like' WHEN false THEN 'not_poisson' END
      |    AS poisson_like
      |FROM dd
      |ORDER BY event_type""".stripMargin,
  ) { (s, d) =>
    val e = Tables.events(s, d)
      .filter(col("ts").isNotNull && col("event_type").isNotNull)
      .select(col("event_type"), col("event_id"),
        expr("unix_micros(ts)").as("us"))
    // r16: scale-parallel gap stage (see OrderedBins.typeGapsCarry — the
    // per-type lag window serialized on 5 type-sized partitions at the
    // ×100 axis)
    val gaps = typeGapsCarry(e)
      .transform(graft.operators.Iter.pin) // 2 consumers: moments and the rank scan
    val mom = gaps.groupBy(col("event_type"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("gp")).cast("long").as("sg"))
    // r16→r18 this ranked EVERY gap row (rankPar, quantile bins). r19:
    // RUN-COLLAPSE instead — a replicated corpus ties 99.9% of gaps at
    // one value (measured ×1000: 99.9M of 100M rows share gp = 0, only
    // ~100k distinct (type, gp) runs), equal keys land in ONE bin under
    // ANY monotone key binning (the rankPar hot-key note), and this
    // tie-less rank has no tie column to sub-bin by. But the KS row term
    // v(i) = max(i/n − F̂, F̂ − (i−1)/n) is the max of an INCREASING and
    // a DECREASING function of i, so over a tie run [lo, hi] (one gp ⇒
    // one F̂) its maximum sits at an endpoint: max over the run =
    // max(v(lo), v(hi)) — the SAME double expressions evaluated at
    // i = lo and i = hi, bit-identical to the row-grain max. Collapse to
    // value runs, rank run ENDPOINTS off a cumulative run count
    // (prefixSumPar at run grain: distinct gp per type — no ties, and
    // the ~distinct-gap-sized frame rides the plain window), evaluate v
    // at both ends. The row-grain oracle SQL is unchanged — same maxima.
    val runs = gaps.groupBy(col("event_type"), col("gp"))
      .agg(count(lit(1)).cast("long").as("cnt"))
      .transform(graft.operators.Iter.pin) // 2 consumers (prefixSumPar probe + main scan):
      // unpinned, each recomputes the 100M-row groupBy (§5.7 pin rule);
      // the pin is run-table-sized (~distinct gaps), trivially cheap
    val ranked = prefixSumPar(runs, "gp", desc = false, Nil, Seq("cnt"),
        Seq("event_type"))
      .select(col("event_type"), col("gp"), col("cnt"),
        (col("cum_cnt") - col("cnt") + 1L).as("lo"),
        col("cum_cnt").as("hi"))
    def ksAt(i: String): String =
      s"""CASE WHEN CAST($i AS DOUBLE) / CAST(n AS DOUBLE) - ffit
         |    > ffit - CAST($i - 1 AS DOUBLE) / CAST(n AS DOUBLE)
         |  THEN CAST($i AS DOUBLE) / CAST(n AS DOUBLE) - ffit
         |  ELSE ffit - CAST($i - 1 AS DOUBLE) / CAST(n AS DOUBLE)
         |  END""".stripMargin
    val rk = ranked.join(mom, "event_type")
      .select(col("event_type"), col("gp"), col("n"), col("sg"),
        col("lo"), col("hi"),
        expr("""CAST(1 AS DOUBLE)
          |  - CAST(exp(CAST(0 AS DOUBLE)
          |      - CAST(n AS DOUBLE) / CAST(sg AS DOUBLE)
          |        * CAST(gp AS DOUBLE)) AS FLOAT)""".stripMargin)
          .as("ffit"))
    val dd = rk.groupBy(col("event_type"), col("n"), col("sg"))
      .agg(max(greatest(expr(ksAt("hi")), expr(ksAt("lo")))).as("d"))
    dd.select(col("event_type"), col("n").as("n_gaps"),
        Exact.ratio6Big("sg", "n * 1000").as("mean_gap_ms"), // Big: µs-gap sum ≈ span (r16 audit),
        round(col("d"), 6).as("ks_d"),
        // §5.7 nullable-boolean rule (r16): string verdict, NULL d → NULL
        when(col("d") < expr("CAST(1.36 AS DOUBLE) / sqrt(CAST(n AS DOUBLE))"),
          lit("poisson_like"))
          .when(col("d") >= expr(
            "CAST(1.36 AS DOUBLE) / sqrt(CAST(n AS DOUBLE))"),
            lit("not_poisson")).as("poisson_like"))
      .orderBy(col("event_type"))
  }

  /** OVERDISPERSION INDEX — the Poisson-count companion to q234's
    * Poisson-GAP test: for daily counts, the index of dispersion
    * D = (n−1)·s²/x̄ collapses to the EXACT int64 rational
    * (nQ − S²)/S, and the Fano factor D/(n−1) reads 1 under Poisson,
    * > 1 for clumped (campaign/bot) traffic, < 1 for rate-limited. The
    * normal approximation z² = (D − (n−1))²/(2(n−1)) flags departure.
    * Capacity planners size queues off THIS number, not the mean.
    *
    * Exactness: D's numerator and denominator are exact int64 (no
    * float mean, no float variance — the identity clears both); Fano
    * and z² are fixed-order double chains. Zero-mean series (S = 0) →
    * NULL via nullif; n ≤ 1 → excluded (no variance).
    *
    * Plan: the daily aggregate + dense grid, one 5-row moment finish.
    */
  val q235Overdispersion = Q(
    "q235_overdispersion",
    """WITH e AS (
      |  SELECT event_type,
      |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day
      |  FROM events
      |  WHERE ts IS NOT NULL AND event_type IS NOT NULL
      |),
      |dc AS (SELECT event_type, day, CAST(count(*) AS BIGINT) AS cnt
      |       FROM e GROUP BY 1, 2),
      |b AS (SELECT event_type, min(day) AS d0, max(day) AS d1
      |      FROM dc GROUP BY 1),
      |grid AS (
      |  SELECT b.event_type, unnest(range(0, b.d1 - b.d0 + 1)) AS t,
      |    b.d0
      |  FROM b
      |),
      |x AS (
      |  SELECT g.event_type, COALESCE(dc.cnt, 0) AS c
      |  FROM grid g LEFT JOIN dc
      |    ON dc.event_type = g.event_type AND dc.day = g.d0 + g.t
      |),
      |mom AS (
      |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(c) AS BIGINT) AS s,
      |    CAST(sum(c * c) AS BIGINT) AS q
      |  FROM x GROUP BY 1
      |)
      |SELECT event_type, n AS n_days,
      |  round(CAST(s AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mean_count,
      |  round(CAST(n * q - s * s AS DOUBLE)
      |    / CAST(n AS DOUBLE) / CAST(n - 1 AS DOUBLE), 6) AS var_count,
      |  round(CAST(n * q - s * s AS DOUBLE)
      |    / nullif(CAST(s AS DOUBLE), CAST(0 AS DOUBLE))
      |    / CAST(n - 1 AS DOUBLE), 6) AS fano,
      |  round((CAST(n * q - s * s AS DOUBLE)
      |      / nullif(CAST(s AS DOUBLE), CAST(0 AS DOUBLE))
      |      - CAST(n - 1 AS DOUBLE))
      |    * (CAST(n * q - s * s AS DOUBLE)
      |      / nullif(CAST(s AS DOUBLE), CAST(0 AS DOUBLE))
      |      - CAST(n - 1 AS DOUBLE))
      |    / (CAST(2 AS DOUBLE) * CAST(n - 1 AS DOUBLE)), 6) AS z2,
      |  CASE ((CAST(n * q - s * s AS DOUBLE)
      |      / nullif(CAST(s AS DOUBLE), CAST(0 AS DOUBLE))
      |      - CAST(n - 1 AS DOUBLE))
      |    * (CAST(n * q - s * s AS DOUBLE)
      |      / nullif(CAST(s AS DOUBLE), CAST(0 AS DOUBLE))
      |      - CAST(n - 1 AS DOUBLE))
      |    / (CAST(2 AS DOUBLE) * CAST(n - 1 AS DOUBLE))) > 3.8415
      |    WHEN true THEN 'overdispersed' WHEN false THEN 'dispersion_ok' END
      |    AS overdispersed
      |FROM mom WHERE n > 1
      |ORDER BY event_type""".stripMargin,
  ) { (s, d) =>
    val dc = Tables.events(s, d)
      .filter(col("ts").isNotNull && col("event_type").isNotNull)
      .select(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("day"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).cast("long").as("cnt"))
    val grid = dc.groupBy(col("event_type"))
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(col("event_type").as("g_type"), col("d0"),
        explode(sequence(lit(0L), col("d1") - col("d0"))).as("t"))
    val x = grid.join(dc,
        col("g_type") === dc("event_type")
          && dc("day") === col("d0") + col("t"), "left")
      .select(col("g_type").as("event_type"),
        coalesce(col("cnt"), lit(0L)).as("c"))
    val mom = x.groupBy(col("event_type"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("c")).cast("long").as("s"),
        sum(col("c") * col("c")).cast("long").as("q"))
    val dExp = expr("""CAST(n * q - s * s AS DOUBLE)
      |  / nullif(CAST(s AS DOUBLE), CAST(0 AS DOUBLE))""".stripMargin)
    val z2 = (dExp - expr("CAST(n - 1 AS DOUBLE)"))
      .*(dExp - expr("CAST(n - 1 AS DOUBLE)"))
      ./(expr("CAST(2 AS DOUBLE) * CAST(n - 1 AS DOUBLE)"))
    mom.filter(col("n") > 1)
      .select(col("event_type"), col("n").as("n_days"),
        round(expr("CAST(s AS DOUBLE) / CAST(n AS DOUBLE)"), 6)
          .as("mean_count"),
        round(expr("""CAST(n * q - s * s AS DOUBLE)
          |  / CAST(n AS DOUBLE) / CAST(n - 1 AS DOUBLE)""".stripMargin),
          6).as("var_count"),
        round(dExp / expr("CAST(n - 1 AS DOUBLE)"), 6).as("fano"),
        round(z2, 6).as("z2"),
        // §5.7 nullable-boolean rule (r16): string verdict, NULL z2 → NULL
        when(z2 > 3.8415, lit("overdispersed"))
          .when(z2 <= 3.8415, lit("dispersion_ok")).as("overdispersed"))
      .orderBy(col("event_type"))
  }

  /** WILSON SCORE INTERVAL — the closed-form 95% CI for the q154-style
    * conversion rates, the deterministic complement to q164's bootstrap:
    * Wilson's (p̂ + z²/2n ± z·√(p̂(1−p̂)/n + z²/4n²))/(1 + z²/n) stays
    * inside [0,1] and behaves at p̂ ∈ {0,1} where the Wald interval
    * collapses — the right interval to SHIP on a dashboard (no
    * resampling budget, no seed).
    *
    * Exactness: x and n are exact int64 (the q154 ≥15-event converter
    * definition over distinct users); the interval is one fixed-order
    * double chain per bound with z = 1.96 literal and one IEEE sqrt.
    * n = 0 types → NULL bounds via nullif. Bounds are CLAMPED only by
    * algebra (Wilson needs no clamp — stated).
    *
    * Plan: the q154 distinct-pairs aggregate, a 1-row universe
    * broadcast, 5-row finish.
    */
  val q236WilsonCi = Q(
    "q236_wilson_ci",
    s"""WITH uu AS (SELECT DISTINCT user_id FROM events
      |            WHERE user_id IS NOT NULL),
      |nu AS (SELECT CAST(count(*) AS BIGINT) AS n FROM uu),
      |cv AS (
      |  SELECT event_type, CAST(count(*) AS BIGINT) AS x
      |  FROM (SELECT user_id, event_type FROM events
      |        WHERE user_id IS NOT NULL
      |        GROUP BY user_id, event_type HAVING count(*) >= 15) z
      |  GROUP BY event_type
      |),
      |f AS (
      |  SELECT cv.event_type, cv.x, nu.n,
      |    CAST(cv.x AS DOUBLE) / CAST(nu.n AS DOUBLE) AS p
      |  FROM cv CROSS JOIN nu
      |)
      |SELECT event_type, x AS converters, n AS n_users,
      |  ${Exact.Sql.ratio6("x", "n")} AS rate,
      |  round((p + CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE)
      |      / (CAST(2 AS DOUBLE) * CAST(n AS DOUBLE))
      |    - CAST(1.96 AS DOUBLE)
      |      * sqrt(p * (CAST(1 AS DOUBLE) - p) / CAST(n AS DOUBLE)
      |        + CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE)
      |          / (CAST(4 AS DOUBLE) * CAST(n AS DOUBLE)
      |            * CAST(n AS DOUBLE))))
      |    / (CAST(1 AS DOUBLE) + CAST(1.96 AS DOUBLE)
      |      * CAST(1.96 AS DOUBLE) / CAST(n AS DOUBLE)), 6)
      |    AS wilson_lo,
      |  round((p + CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE)
      |      / (CAST(2 AS DOUBLE) * CAST(n AS DOUBLE))
      |    + CAST(1.96 AS DOUBLE)
      |      * sqrt(p * (CAST(1 AS DOUBLE) - p) / CAST(n AS DOUBLE)
      |        + CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE)
      |          / (CAST(4 AS DOUBLE) * CAST(n AS DOUBLE)
      |            * CAST(n AS DOUBLE))))
      |    / (CAST(1 AS DOUBLE) + CAST(1.96 AS DOUBLE)
      |      * CAST(1.96 AS DOUBLE) / CAST(n AS DOUBLE)), 6)
      |    AS wilson_hi
      |FROM f
      |ORDER BY event_type""".stripMargin,
  ) { (s, d) =>
    val ev = Tables.events(s, d).filter(col("user_id").isNotNull)
    val nu = ev.select(col("user_id")).distinct()
      .agg(count(lit(1)).cast("long").as("n"))
    val cv = ev.groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("ne")).filter(col("ne") >= 15)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).cast("long").as("x"))
    val f = cv.crossJoin(broadcast(nu))
      .withColumn("p", expr("CAST(x AS DOUBLE) / CAST(n AS DOUBLE)"))
    def bound(sign: String) = expr(
      s"""(p + CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE)
        |    / (CAST(2 AS DOUBLE) * CAST(n AS DOUBLE))
        |  $sign CAST(1.96 AS DOUBLE)
        |    * sqrt(p * (CAST(1 AS DOUBLE) - p) / CAST(n AS DOUBLE)
        |      + CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE)
        |        / (CAST(4 AS DOUBLE) * CAST(n AS DOUBLE)
        |          * CAST(n AS DOUBLE))))
        |  / (CAST(1 AS DOUBLE) + CAST(1.96 AS DOUBLE)
        |    * CAST(1.96 AS DOUBLE) / CAST(n AS DOUBLE))""".stripMargin)
    f.select(col("event_type"), col("x").as("converters"),
        col("n").as("n_users"),
        Exact.ratio6("x", "n").as("rate"),
        round(bound("-"), 6).as("wilson_lo"),
        round(bound("+"), 6).as("wilson_hi"))
      .orderBy(col("event_type"))
  }
  /** MARKOV ENTROPY RATE — how PREDICTABLE is the behavioral process:
    * the conditional entropy H(next | current) of q120's per-user
    * transition chain, next to the marginal H(next) (q179's axis) —
    * their gap is the information the previous event carries. H_cond ≈
    * H_marg says the chain is memoryless (transition modeling buys
    * nothing); H_cond ≪ H_marg says sequence models will pay. One
    * number per corpus, plus the per-state conditional entropies that
    * localize WHERE the predictability lives.
    *
    * Exactness: transition counts are exact int64 over q120's
    * (ts, event_id)-ordered lag pairs; every entropy term is
    * (c/N)·ln(N/c)-shaped — one exact int64 ratio per float-cast ln,
    * fixed-order products, DECIMAL(18,9) sums (the q179/q199 ln
    * discipline; 0·ln 0 never arises because count cells are ≥ 1 by
    * construction). The corpus-level H_cond attaches to every state row
    * via the q197 window-total idiom.
    *
    * Plan: one lag window (the only row-proportional stage), a
    * |states|²-bounded matrix aggregate, window totals.
    */
  val q239EntropyRate = Q(
    "q239_entropy_rate",
    """WITH seq AS (
      |  SELECT user_id, event_type,
      |    lag(event_type) OVER (PARTITION BY user_id
      |      ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev_type
      |  FROM events
      |  WHERE user_id IS NOT NULL AND event_type IS NOT NULL
      |),
      |t AS (
      |  SELECT prev_type, event_type AS next_type,
      |    CAST(count(*) AS BIGINT) AS c
      |  FROM seq WHERE prev_type IS NOT NULL
      |  GROUP BY 1, 2
      |),
      |rows_ AS (
      |  SELECT prev_type, CAST(sum(c) AS BIGINT) AS rn FROM t
      |  GROUP BY 1
      |),
      |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM t),
      |cols AS (
      |  SELECT next_type, CAST(sum(c) AS BIGINT) AS cn FROM t
      |  GROUP BY 1
      |),
      |hc AS (
      |  SELECT t.prev_type,
      |    sum(CAST(CAST(t.c AS DOUBLE) / CAST(r.rn AS DOUBLE)
      |      * CAST(ln(CAST(r.rn AS DOUBLE) / CAST(t.c AS DOUBLE))
      |        AS FLOAT) AS DECIMAL(18,9))) AS h_row
      |  FROM t JOIN rows_ r ON r.prev_type = t.prev_type
      |  GROUP BY 1
      |),
      |hm AS (
      |  SELECT sum(CAST(CAST(cols.cn AS DOUBLE) / CAST(tot.n AS DOUBLE)
      |    * CAST(ln(CAST(tot.n AS DOUBLE) / CAST(cols.cn AS DOUBLE))
      |      AS FLOAT) AS DECIMAL(18,9))) AS h_marg
      |  FROM cols CROSS JOIN tot
      |),
      |per AS (
      |  SELECT r.prev_type AS state, r.rn AS n_from,
      |    CAST(hc.h_row AS DOUBLE) AS h_given_state,
      |    CAST(r.rn AS DOUBLE) / CAST(tot.n AS DOUBLE)
      |      * CAST(hc.h_row AS DOUBLE) AS contrib
      |  FROM rows_ r
      |  JOIN hc ON hc.prev_type = r.prev_type
      |  CROSS JOIN tot
      |),
      |w AS (
      |  SELECT state, n_from, h_given_state, contrib,
      |    sum(CAST(contrib AS DECIMAL(18,9))) OVER () AS h_cond
      |  FROM per
      |)
      |SELECT w.state, w.n_from,
      |  round(w.h_given_state, 6) AS h_given_state,
      |  CAST(round(w.h_cond, 6) AS DOUBLE) AS h_cond,
      |  round(CAST(hm.h_marg AS DOUBLE), 6) AS h_marginal,
      |  round(CAST(hm.h_marg AS DOUBLE) - CAST(w.h_cond AS DOUBLE), 6)
      |    AS memory_gain
      |FROM w CROSS JOIN hm
      |ORDER BY w.state""".stripMargin,
  ) { (s, d) =>
    val seq0 = Tables.events(s, d)
      .filter(col("user_id").isNotNull && col("event_type").isNotNull)
      .select(col("user_id"), col("event_type"),
        lag(col("event_type"), 1).over(
          Window.partitionBy(col("user_id"))
            .orderBy(col("ts"), col("event_id"))).as("prev_type"))
      .filter(col("prev_type").isNotNull)
    val t = seq0.groupBy(col("prev_type"),
        col("event_type").as("next_type"))
      .agg(count(lit(1)).cast("long").as("c"))
      .transform(graft.operators.Iter.pin) // 3 consumers: rows, cols, the term sums
    val rows = t.groupBy(col("prev_type"))
      .agg(sum(col("c")).cast("long").as("rn"))
    val tot = t.agg(sum(col("c")).cast("long").as("n"))
    val cols = t.groupBy(col("next_type"))
      .agg(sum(col("c")).cast("long").as("cn"))
    val hc = t.join(rows, "prev_type")
      .select(col("prev_type"), expr(
        """CAST(CAST(c AS DOUBLE) / CAST(rn AS DOUBLE)
          |  * CAST(ln(CAST(rn AS DOUBLE) / CAST(c AS DOUBLE)) AS FLOAT)
          |  AS DECIMAL(18,9))""".stripMargin).as("term"))
      .groupBy(col("prev_type")).agg(sum(col("term")).as("h_row"))
    val hm = cols.crossJoin(broadcast(tot))
      .select(expr(
        """CAST(CAST(cn AS DOUBLE) / CAST(n AS DOUBLE)
          |  * CAST(ln(CAST(n AS DOUBLE) / CAST(cn AS DOUBLE)) AS FLOAT)
          |  AS DECIMAL(18,9))""".stripMargin).as("term"))
      .agg(sum(col("term")).as("h_marg"))
    val per = rows.join(hc, "prev_type").crossJoin(broadcast(tot))
      .select(col("prev_type").as("state"), col("rn").as("n_from"),
        col("h_row").cast("double").as("h_given_state"),
        expr("""CAST(rn AS DOUBLE) / CAST(n AS DOUBLE)
          |  * CAST(h_row AS DOUBLE)""".stripMargin).as("contrib"))
    val w = per.withColumn("h_cond",
      sum(expr("CAST(contrib AS DECIMAL(18,9))"))
        .over(Window.partitionBy()))
    w.crossJoin(broadcast(hm))
      .select(col("state"), col("n_from"),
        round(col("h_given_state"), 6).as("h_given_state"),
        round(col("h_cond"), 6).cast("double").as("h_cond"),
        round(col("h_marg").cast("double"), 6).as("h_marginal"),
        round(col("h_marg").cast("double") - col("h_cond").cast("double"),
          6).as("memory_gain"))
      .orderBy(col("state"))
  }

  /** NEWEY–WEST ROBUST STANDARD ERROR — the honest error bar for the
    * daily-count mean when q221 has just shown the series
    * autocorrelates: the iid s²/n understates uncertainty on positively
    * correlated series; the Bartlett-kernel HAC estimator
    * s²_NW = γ₀ + 2·Σ_{k≤2}(1−k/3)·γ_k repairs it, and the ratio
    * se_nw/se_iid IS the "how wrong was the naive error bar" number an
    * experimentation platform needs before trusting q162/q154 on
    * time-bucketed metrics.
    *
    * Exactness: every autocovariance γ_k clears its float mean through
    * the q221 integer identity (n²Σx_tx_{t−k} − nS(H_k+T_k) +
    * (n−k)S² over n³ divides as fixed-order doubles); the Bartlett
    * weights are exact rationals (1/3, 2/3) as double literals; one
    * IEEE sqrt per se. Degenerate spans (n ≤ 2) are excluded by the
    * lag-2 definition; a flat series yields se = 0 exactly.
    *
    * Plan: the q221 lag machinery verbatim — dense grid, two lag
    * windows sharing a sort, one aggregate, 5-row finish.
    */
  val q240NeweyWest = Q(
    "q240_newey_west",
    """WITH e AS (
      |  SELECT event_type,
      |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day
      |  FROM events
      |  WHERE ts IS NOT NULL AND event_type IS NOT NULL
      |),
      |dc AS (SELECT event_type, day, CAST(count(*) AS BIGINT) AS cnt
      |       FROM e GROUP BY 1, 2),
      |b AS (SELECT event_type, min(day) AS d0, max(day) AS d1
      |      FROM dc GROUP BY 1),
      |grid AS (
      |  SELECT b.event_type, unnest(range(0, b.d1 - b.d0 + 1)) AS t,
      |    b.d0
      |  FROM b
      |),
      |x AS (
      |  SELECT g.event_type, g.t, COALESCE(dc.cnt, 0) AS x
      |  FROM grid g LEFT JOIN dc
      |    ON dc.event_type = g.event_type AND dc.day = g.d0 + g.t
      |),
      |lagd AS (
      |  SELECT event_type, t, x,
      |    lag(x, 1) OVER (PARTITION BY event_type ORDER BY t) AS x1,
      |    lag(x, 2) OVER (PARTITION BY event_type ORDER BY t) AS x2
      |  FROM x
      |),
      |agg AS (
      |  SELECT event_type,
      |    CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(x) AS BIGINT) AS s,
      |    CAST(sum(x * x) AS BIGINT) AS q,
      |    CAST(sum(CASE WHEN x1 IS NULL THEN 0 ELSE x * x1 END)
      |      AS BIGINT) AS p1,
      |    CAST(sum(CASE WHEN x1 IS NULL THEN 0 ELSE x END) AS BIGINT)
      |      AS h1,
      |    CAST(sum(CASE WHEN x1 IS NULL THEN 0 ELSE x1 END) AS BIGINT)
      |      AS t1,
      |    CAST(sum(CASE WHEN x2 IS NULL THEN 0 ELSE x * x2 END)
      |      AS BIGINT) AS p2,
      |    CAST(sum(CASE WHEN x2 IS NULL THEN 0 ELSE x END) AS BIGINT)
      |      AS h2,
      |    CAST(sum(CASE WHEN x2 IS NULL THEN 0 ELSE x2 END) AS BIGINT)
      |      AS t2
      |  FROM lagd GROUP BY 1
      |),
      |gam AS (
      |  SELECT event_type, n, s,
      |    CAST(n * q - s * s AS DOUBLE)
      |      / CAST(n AS DOUBLE) / CAST(n AS DOUBLE) / CAST(n AS DOUBLE)
      |      * CAST(n AS DOUBLE) AS g0,
      |    CAST(n * n * p1 - n * s * (h1 + t1) + (n - 1) * s * s
      |      AS DOUBLE) / CAST(n AS DOUBLE) / CAST(n AS DOUBLE)
      |      / CAST(n AS DOUBLE) AS g1,
      |    CAST(n * n * p2 - n * s * (h2 + t2) + (n - 2) * s * s
      |      AS DOUBLE) / CAST(n AS DOUBLE) / CAST(n AS DOUBLE)
      |      / CAST(n AS DOUBLE) AS g2
      |  FROM agg WHERE n > 2
      |)
      |SELECT event_type, n AS n_days,
      |  round(CAST(s AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mean_count,
      |  round(sqrt(g0 / CAST(n AS DOUBLE)), 6) AS se_iid,
      |  round(sqrt((g0
      |    + CAST(2 AS DOUBLE) * (CAST(2 AS DOUBLE) / CAST(3 AS DOUBLE))
      |      * g1
      |    + CAST(2 AS DOUBLE) * (CAST(1 AS DOUBLE) / CAST(3 AS DOUBLE))
      |      * g2) / CAST(n AS DOUBLE)), 6) AS se_nw,
      |  round(sqrt((g0
      |    + CAST(2 AS DOUBLE) * (CAST(2 AS DOUBLE) / CAST(3 AS DOUBLE))
      |      * g1
      |    + CAST(2 AS DOUBLE) * (CAST(1 AS DOUBLE) / CAST(3 AS DOUBLE))
      |      * g2) / CAST(n AS DOUBLE))
      |    / nullif(sqrt(g0 / CAST(n AS DOUBLE)), CAST(0 AS DOUBLE)), 6)
      |    AS inflation
      |FROM gam
      |ORDER BY event_type""".stripMargin,
  ) { (s, d) =>
    val dc = Tables.events(s, d)
      .filter(col("ts").isNotNull && col("event_type").isNotNull)
      .select(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("day"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).cast("long").as("cnt"))
    val grid = dc.groupBy(col("event_type"))
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(col("event_type").as("g_type"), col("d0"),
        explode(sequence(lit(0L), col("d1") - col("d0"))).as("t"))
    val x = grid.join(dc,
        col("g_type") === dc("event_type")
          && dc("day") === col("d0") + col("t"), "left")
      .select(col("g_type").as("event_type"), col("t"),
        coalesce(col("cnt"), lit(0L)).as("x"))
    val wLag = Window.partitionBy(col("event_type")).orderBy(col("t"))
    val lagd = x.select(col("event_type"), col("x"),
      lag(col("x"), 1).over(wLag).as("x1"),
      lag(col("x"), 2).over(wLag).as("x2"))
    val agg = lagd.groupBy(col("event_type"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("x")).cast("long").as("s"),
        sum(col("x") * col("x")).cast("long").as("q"),
        sum(when(col("x1").isNull, 0L).otherwise(col("x") * col("x1")))
          .cast("long").as("p1"),
        sum(when(col("x1").isNull, 0L).otherwise(col("x"))).cast("long")
          .as("h1"),
        sum(when(col("x1").isNull, 0L).otherwise(col("x1"))).cast("long")
          .as("t1"),
        sum(when(col("x2").isNull, 0L).otherwise(col("x") * col("x2")))
          .cast("long").as("p2"),
        sum(when(col("x2").isNull, 0L).otherwise(col("x"))).cast("long")
          .as("h2"),
        sum(when(col("x2").isNull, 0L).otherwise(col("x2"))).cast("long")
          .as("t2"))
    val gam = agg.filter(col("n") > 2)
      .select(col("event_type"), col("n"), col("s"),
        expr("""CAST(n * q - s * s AS DOUBLE)
          |  / CAST(n AS DOUBLE) / CAST(n AS DOUBLE) / CAST(n AS DOUBLE)
          |  * CAST(n AS DOUBLE)""".stripMargin).as("g0"),
        expr("""CAST(n * n * p1 - n * s * (h1 + t1) + (n - 1) * s * s
          |  AS DOUBLE) / CAST(n AS DOUBLE) / CAST(n AS DOUBLE)
          |  / CAST(n AS DOUBLE)""".stripMargin).as("g1"),
        expr("""CAST(n * n * p2 - n * s * (h2 + t2) + (n - 2) * s * s
          |  AS DOUBLE) / CAST(n AS DOUBLE) / CAST(n AS DOUBLE)
          |  / CAST(n AS DOUBLE)""".stripMargin).as("g2"))
    val nw = expr("""(g0
      |  + CAST(2 AS DOUBLE) * (CAST(2 AS DOUBLE) / CAST(3 AS DOUBLE))
      |    * g1
      |  + CAST(2 AS DOUBLE) * (CAST(1 AS DOUBLE) / CAST(3 AS DOUBLE))
      |    * g2) / CAST(n AS DOUBLE)""".stripMargin)
    gam.select(col("event_type"), col("n").as("n_days"),
        round(expr("CAST(s AS DOUBLE) / CAST(n AS DOUBLE)"), 6)
          .as("mean_count"),
        round(sqrt(expr("g0 / CAST(n AS DOUBLE)")), 6).as("se_iid"),
        round(sqrt(nw), 6).as("se_nw"),
        round(sqrt(nw) / nullif(sqrt(expr("g0 / CAST(n AS DOUBLE)")),
          lit(0.0)), 6).as("inflation"))
      .orderBy(col("event_type"))
  }

  /** DISPARATE-IMPACT AUDIT — the four-fifths-rule fairness screen a
    * curation pipeline runs before shipping a keep/drop filter: for the
    * length filter "keep docs with n_chars ≥ 300", the per-language
    * selection rates, each language's impact ratio against the
    * most-selected language, and the 80% flag. Selection-rate parity is
    * the first-line audit EEOC-style reviews start from — and exactly
    * what a length filter silently violates across languages with
    * different scripts.
    *
    * Exactness: selection counts are exact int64; rates go through
    * ratio6; the impact ratio is the exact integer cross-multiply
    * kept_g·n_max vs kept_max·n_g rounded via ratio6 on the products
    * (never a float/float divide); the reference group (max rate, ties
    * broken by language for determinism) is chosen by an exact-rational
    * rank. Zero-member groups can't occur (they have no rows); a
    * zero-selection reference makes every ratio NULL via nullif.
    *
    * Plan: one scan → |langs|-bounded aggregate, one rank window, one
    * broadcast of the 1-row reference.
    */
  val q241DisparateImpact = Q(
    "q241_disparate_impact",
    s"""WITH d AS (
      |  SELECT lang,
      |    CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS kept
      |  FROM documents
      |  WHERE lang IS NOT NULL AND n_chars IS NOT NULL
      |),
      |g AS (
      |  SELECT lang, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(kept) AS BIGINT) AS k
      |  FROM d GROUP BY 1
      |),
      |ref AS (
      |  SELECT lang AS ref_lang, n AS ref_n, k AS ref_k
      |  FROM g
      |  ORDER BY CAST(k AS DOUBLE) / CAST(n AS DOUBLE) DESC, lang
      |  LIMIT 1
      |)
      |SELECT g.lang, g.n AS n_docs, g.k AS n_kept,
      |  ${Exact.Sql.ratio6("g.k", "g.n")} AS selection_rate,
      |  ref.ref_lang,
      |  ${Exact.Sql.ratio6("g.k * ref.ref_n", "ref.ref_k * g.n")}
      |    AS impact_ratio,
      |  CASE (CAST(g.k * ref.ref_n AS DOUBLE)
      |    / nullif(CAST(ref.ref_k * g.n AS DOUBLE), CAST(0 AS DOUBLE)))
      |    < 0.8
      |    WHEN true THEN 'violation' WHEN false THEN 'ok' END
      |    AS four_fifths_violation
      |FROM g CROSS JOIN ref
      |ORDER BY g.lang""".stripMargin,
  ) { (s, d) =>
    val doc = Tables.documents(s, d)
      .filter(col("lang").isNotNull && col("n_chars").isNotNull)
      .select(col("lang"),
        when(col("n_chars") >= 300, 1L).otherwise(0L).as("kept"))
    val g = doc.groupBy(col("lang"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("kept")).cast("long").as("k"))
      .transform(graft.operators.Iter.pin) // 2 consumers: the reference rank and the rows
    val ref = g.orderBy(
        expr("CAST(k AS DOUBLE) / CAST(n AS DOUBLE)").desc,
        col("lang").asc)
      .limit(1)
      .select(col("lang").as("ref_lang"), col("n").as("ref_n"),
        col("k").as("ref_k"))
    g.crossJoin(broadcast(ref))
      .select(col("lang"), col("n").as("n_docs"), col("k").as("n_kept"),
        Exact.ratio6("k", "n").as("selection_rate"),
        col("ref_lang"),
        Exact.ratio6("k * ref_n", "ref_k * n").as("impact_ratio"),
        {
          // §5.7 nullable-boolean rule (r16): string verdict — an all-
          // zero-kept corpus NULLs the ratio through nullif
          val ratio = expr("""CAST(k * ref_n AS DOUBLE)
            |  / nullif(CAST(ref_k * n AS DOUBLE), CAST(0 AS DOUBLE))"""
            .stripMargin)
          when(ratio < 0.8, lit("violation"))
            .when(ratio >= 0.8, lit("ok")).as("four_fifths_violation")
        })
      .orderBy(col("lang"))
  }
  /** PYTHAGOREAN MEANS PROFILE — the aggregate family's missing two
    * members: per event type over positive values, the arithmetic,
    * geometric and harmonic means side by side with the AM/GM ratio —
    * the skew diagnostic that works where moments mislead (GM is the
    * right average for multiplicative quantities — growth factors,
    * ratios; HM for rates). AM ≥ GM ≥ HM is a theorem, and the suite
    * asserts the engine's numbers obey it.
    *
    * Exactness: AM is one divide of exact int64s; GM's log-sum uses
    * the float-cast-ln + DECIMAL device for the SUMMANDS, but the exp
    * FINISH quantizes its ARGUMENT (round(mean-log, 6)) and never
    * float-casts its output — a large-sum mean drifts ~1e-9 from the
    * per-term float splits, and e^x amplifies that across a float
    * midpoint (hit live on sf0.01; §5.7's exp-amplification row). HM =
    * n / Σ(1/x) with per-term IEEE divides decimal-cast;
    * zero/negative cents are
    * excluded BY DEFINITION (GM/HM domain), counts reported so the
    * exclusion is visible. Types with no positive values are absent.
    *
    * Plan: one scan → one map-side-combined aggregate per type.
    */
  val q242MeansProfile = Q(
    "q242_means_profile",
    """WITH e AS (
      |  SELECT event_type,
      |    CAST(round(100 * value) AS BIGINT) AS cents
      |  FROM events
      |  WHERE value IS NOT NULL AND event_type IS NOT NULL
      |    AND round(100 * value) > 0
      |),
      |agg AS (
      |  SELECT event_type,
      |    CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(cents) AS BIGINT) AS s,
      |    sum(CAST(CAST(ln(CAST(cents AS DOUBLE)) AS FLOAT)
      |      AS DECIMAL(18,9))) AS sl,
      |    sum(CAST(CAST(1 AS DOUBLE) / CAST(cents AS DOUBLE)
      |      AS DECIMAL(18,9))) AS sr
      |  FROM e GROUP BY 1
      |)
      |SELECT event_type, n AS n_positive,
      |  round(CAST(s AS DOUBLE) / CAST(n AS DOUBLE), 6) AS am,
      |  round(exp(round(CAST(sl AS DOUBLE) / CAST(n AS DOUBLE), 6)),
      |    6) AS gm,
      |  round(CAST(n AS DOUBLE) / CAST(sr AS DOUBLE), 6) AS hm,
      |  round((CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
      |    / exp(round(CAST(sl AS DOUBLE) / CAST(n AS DOUBLE), 6)), 6)
      |    AS am_gm_ratio
      |FROM agg
      |ORDER BY event_type""".stripMargin,
  ) { (s, d) =>
    val e = Tables.events(s, d)
      .filter(col("value").isNotNull && col("event_type").isNotNull)
      .select(col("event_type"),
        expr("CAST(round(100 * value) AS BIGINT)").as("cents"))
      .filter(col("cents") > 0)
    val agg = e.groupBy(col("event_type"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("cents")).cast("long").as("s"),
        sum(expr("""CAST(CAST(ln(CAST(cents AS DOUBLE)) AS FLOAT)
          |  AS DECIMAL(18,9))""".stripMargin)).as("sl"),
        sum(expr("""CAST(CAST(1 AS DOUBLE) / CAST(cents AS DOUBLE)
          |  AS DECIMAL(18,9))""".stripMargin)).as("sr"))
    agg.select(col("event_type"), col("n").as("n_positive"),
        round(expr("CAST(s AS DOUBLE) / CAST(n AS DOUBLE)"), 6).as("am"),
        round(expr("""exp(round(CAST(sl AS DOUBLE)
          |  / CAST(n AS DOUBLE), 6))""".stripMargin), 6).as("gm"),
        round(expr("CAST(n AS DOUBLE) / CAST(sr AS DOUBLE)"), 6)
          .as("hm"),
        round(expr("""(CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
          |  / exp(round(CAST(sl AS DOUBLE) / CAST(n AS DOUBLE), 6))"""
          .stripMargin), 6).as("am_gm_ratio"))
      .orderBy(col("event_type"))
  }

  /** JARQUE–BERA NORMALITY TEST — "is the hourly traffic Gaussian?" per
    * event type over the dense zero-filled hour grid (q193's series):
    * JB = n·(g₁²/6 + g₂²/24) from sample skewness g₁ = m₃/m₂^1.5 and
    * excess kurtosis g₂ = m₄/m₂² − 3. The distribution-SHAPE gate in
    * the diagnostic row next to q221 (serial dependence) and q226
    * (order randomness): together they answer "white, gaussian, or
    * neither?" before anyone fits a model that assumes both. JB is
    * asymptotically χ²₍₂₎ — df = 2 BY CONSTRUCTION (one df per moment),
    * so the closed-form tail p = e^(−JB/2) applies with no erf anywhere
    * (the q216/q221 device, and the reason JB beats Shapiro–Wilk
    * cross-engine: SW needs normal order-statistic coefficients neither
    * engine ships).
    *
    * Exactness: the four raw power sums S₁..S₄ are exact int64 —
    * validity bound: span·xmax⁴ < 2⁶³ holds to xmax ≈ 10⁴ events/hour
    * at a month's span (fixture max is in the hundreds); past it S₃/S₄
    * move to DECIMAL(38,0) aggregates. Central moments are the FIXED-
    * ORDER double chains m₂ = a₂ − μ², m₃ = a₃ − 3μa₂ + 2μ³,
    * m₄ = a₄ − 4μa₃ + 6μ²a₂ − 3μ⁴ over aᵢ = Sᵢ/n — every operand an
    * exact integer divided once, every chain written with identical
    * literal parenthesization in both engines, so the doubles are
    * bit-identical (the q207 discipline; no accumulation anywhere). p
    * float-casts the exp OUTPUT — safe here because the ARGUMENT is a
    * bit-identical chain, not a summed-float drift (the q242 rule
    * distinguishes exactly these two cases). A constant series
    * (m₂ = 0) or single-hour span yields NULL statistics via explicit
    * CASE/nullif on both engines, never NaN.
    *
    * Plan: one scan → (type, hour) count (map-side combined) → dense
    * grid join (calendar-bounded) → one 4-moment aggregate per type →
    * 1-row-per-type finish. Nothing row-proportional past the first
    * aggregate; the moment state is 4 int64s per type at any scale.
    */
  val q243JarqueBera = Q(
    "q243_jarque_bera",
    """WITH e AS (
      |  SELECT event_type,
      |    epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS m
      |  FROM events
      |  WHERE ts IS NOT NULL AND event_type IS NOT NULL
      |),
      |mc AS (SELECT event_type, m, count(*) AS cnt FROM e GROUP BY 1, 2),
      |b AS (SELECT event_type, min(m) AS m0, max(m) AS m1
      |      FROM mc GROUP BY 1),
      |grid AS (
      |  SELECT b.event_type, b.m0,
      |    unnest(range(0, b.m1 - b.m0 + 1)) AS t
      |  FROM b
      |),
      |x AS (
      |  SELECT g.event_type, CAST(COALESCE(mc.cnt, 0) AS HUGEINT) AS x
      |  FROM grid g LEFT JOIN mc
      |    ON mc.event_type = g.event_type AND mc.m = g.m0 + g.t
      |),
      |mom AS (
      |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(x) AS HUGEINT) AS s1,
      |    CAST(sum(x * x) AS HUGEINT) AS s2,
      |    CAST(sum(x * x * x) AS HUGEINT) AS s3,
      |    CAST(sum(x * x * x * x) AS HUGEINT) AS s4
      |  FROM x GROUP BY 1
      |),
      |c AS (
      |  SELECT event_type, n,
      |    CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mu,
      |    CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) AS a2,
      |    CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE) AS a3,
      |    CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE) AS a4
      |  FROM mom
      |),
      |cm AS (
      |  SELECT event_type, n, mu,
      |    a2 - mu * mu AS m2,
      |    a3 - CAST(3 AS DOUBLE) * mu * a2 + CAST(2 AS DOUBLE) * mu * mu * mu
      |      AS m3,
      |    a4 - CAST(4 AS DOUBLE) * mu * a3
      |      + CAST(6 AS DOUBLE) * mu * mu * a2
      |      - CAST(3 AS DOUBLE) * mu * mu * mu * mu AS m4
      |  FROM c
      |),
      |jb AS (
      |  SELECT event_type, n,
      |    CASE WHEN n > 1 AND m2 > 0 THEN
      |      m3 / sqrt(m2 * m2 * m2) ELSE NULL END AS skew,
      |    CASE WHEN n > 1 AND m2 > 0 THEN
      |      m4 / (m2 * m2) - CAST(3 AS DOUBLE) ELSE NULL END AS exkurt,
      |    CASE WHEN n > 1 AND m2 > 0 THEN
      |      CAST(n AS DOUBLE)
      |        * ((m3 * m3 / (m2 * m2 * m2)) / CAST(6 AS DOUBLE)
      |          + (m4 / (m2 * m2) - CAST(3 AS DOUBLE))
      |            * (m4 / (m2 * m2) - CAST(3 AS DOUBLE))
      |            / CAST(24 AS DOUBLE))
      |    ELSE NULL END AS jbstat
      |  FROM cm
      |)
      |SELECT event_type, n AS span,
      |  round(skew, 6) AS skewness,
      |  round(exkurt, 6) AS ex_kurtosis,
      |  round(jbstat, 6) AS jb,
      |  round(CAST(CAST(exp(CAST(0 AS DOUBLE) - jbstat / CAST(2 AS DOUBLE))
      |    AS FLOAT) AS DOUBLE), 6) AS p_value,
      |  CASE CAST(CAST(exp(CAST(0 AS DOUBLE) - jbstat / CAST(2 AS DOUBLE))
      |    AS FLOAT) AS DOUBLE) > 0.05
      |    WHEN true THEN 'normalish' WHEN false THEN 'non_normal' END
      |    AS normalish
      |FROM jb
      |ORDER BY event_type""".stripMargin,
  ) { (s, d) =>
    val mc = Tables.events(s, d)
      .filter(col("ts").isNotNull && col("event_type").isNotNull)
      .select(col("event_type"),
        expr("unix_micros(ts) div 3600000000").as("m"))
      .groupBy(col("event_type"), col("m")).agg(count(lit(1)).as("cnt"))
    val grid = mc.groupBy(col("event_type"))
      .agg(min(col("m")).as("m0"), max(col("m")).as("m1"))
      .select(col("event_type").as("g_type"), col("m0"),
        explode(sequence(lit(0L), col("m1") - col("m0"))).as("t"))
    val x = grid.join(mc,
        col("g_type") === mc("event_type")
          && mc("m") === col("m0") + col("t"), "left")
      .select(col("g_type").as("event_type"),
        coalesce(col("cnt"), lit(0L)).as("x"))
    // DECIMAL(38,0) power sums (r18): the timeburst axis put ~9e5
    // events into ONE hour cell; x^4 = 6.5e23 overflows int64 (DuckDB
    // sums in int128 and would diverge silently were Spark non-ANSI).
    // Exact to 1e38 on both engines (HUGEINT twin), value-identical on
    // uniform corpora, and the downstream CAST(s AS DOUBLE) rounds the
    // same exact integer on both sides.
    val mom = x.groupBy(col("event_type"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("x")).cast("long").as("s1"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("s2"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * x * x")).as("s3"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * x * x * x")).as("s4"))
    val cm = mom.select(col("event_type"), col("n"),
        expr("CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)").as("mu"),
        expr("CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)").as("a2"),
        expr("CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE)").as("a3"),
        expr("CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE)").as("a4"))
      .select(col("event_type"), col("n"), col("mu"),
        expr("a2 - mu * mu").as("m2"),
        expr("""a3 - CAST(3 AS DOUBLE) * mu * a2
          |  + CAST(2 AS DOUBLE) * mu * mu * mu""".stripMargin).as("m3"),
        expr("""a4 - CAST(4 AS DOUBLE) * mu * a3
          |  + CAST(6 AS DOUBLE) * mu * mu * a2
          |  - CAST(3 AS DOUBLE) * mu * mu * mu * mu""".stripMargin)
          .as("m4"))
    val jbSql = """CASE WHEN n > 1 AND m2 > 0 THEN
      |  CAST(n AS DOUBLE)
      |    * ((m3 * m3 / (m2 * m2 * m2)) / CAST(6 AS DOUBLE)
      |      + (m4 / (m2 * m2) - CAST(3 AS DOUBLE))
      |        * (m4 / (m2 * m2) - CAST(3 AS DOUBLE))
      |        / CAST(24 AS DOUBLE))
      |ELSE NULL END""".stripMargin
    val jbstat = expr(jbSql)
    val pv = expr(s"""CAST(CAST(exp(CAST(0 AS DOUBLE)
      |  - ($jbSql) / CAST(2 AS DOUBLE))
      |  AS FLOAT) AS DOUBLE)""".stripMargin)
    cm.select(col("event_type"), col("n").as("span"),
        round(expr("""CASE WHEN n > 1 AND m2 > 0 THEN
          |  m3 / sqrt(m2 * m2 * m2) ELSE NULL END""".stripMargin), 6)
          .as("skewness"),
        round(expr("""CASE WHEN n > 1 AND m2 > 0 THEN
          |  m4 / (m2 * m2) - CAST(3 AS DOUBLE) ELSE NULL END"""
          .stripMargin), 6).as("ex_kurtosis"),
        round(jbstat, 6).as("jb"),
        round(pv, 6).as("p_value"),
        // §5.7 nullable-boolean rule (r16): string verdict, NULL p → NULL
        when(pv > 0.05, lit("normalish"))
          .when(pv <= 0.05, lit("non_normal")).as("normalish"))
      .orderBy(col("event_type"))
  }

  /** KRUSKAL–WALLIS H TEST — the k-sample extension of q207's
    * Mann–Whitney: users hash-split into THREE variants (md5 'kw|'
    * salt, % 3), and per event type the tie-corrected rank test
    * H′ = H / (1 − Σ(t³−t)/(N³−N)),
    * H = 12/(N(N+1)) · Σ_g R_g²/n_g − 3(N+1), asks whether ANY arm's
    * `value` distribution is shifted. Three arms is the house choice
    * on purpose: k − 1 = 2 df, so the χ²₍₂₎ tail is the CLOSED FORM
    * p = e^(−H′/2) — the q216/q221/q243 no-erf device — where a 4-arm
    * test would need an incomplete gamma neither engine ships.
    *
    * Exactness: q207's run-length midrank device verbatim — mid2 = 2·
    * midrank stays integer via the cumulative over (type, cents) runs,
    * so each arm's doubled rank sum r2_g = Σ cnt_g·mid2 and the tie
    * mass Σ(t³−t) are exact int64 (N ≤ 2.09e6 cube bound, q207's).
    * r2_g ≤ N(N+1) would overflow int64 when SQUARED, so H is a FIXED-
    * ORDER double chain over the exact integers — (r2/2)²/n terms
    * summed in literal arm order 0,1,2, identical parenthesization
    * both engines (the q243 discipline: determinism, not exactness, is
    * what the chain needs). An absent arm (n_g = 0 — impossible at
    * fixture scale, real under slicing) or an all-tied type (correction
    * factor 0) yields NULL via explicit CASE/nullif, never NaN or a
    * divide-by-zero.
    *
    * Plan: one scan → (type, cents, variant-counts) run-length
    * aggregate (map-side combined, ≤ distinct-values rows per type) →
    * one category-bounded cumulative window → one finish row per type.
    * The variant hash is a projection — zero extra shuffle at 100 TB.
    */
  val q245KruskalWallis = Q(
    "q245_kruskal_wallis",
    """WITH e AS (
      |  SELECT event_type,
      |    CAST(round(100 * value) AS BIGINT) AS cents,
      |    CAST(('0x' || substr(md5('kw|' || CAST(user_id AS VARCHAR)), 1, 1))
      |      AS BIGINT) % 3 AS variant
      |  FROM events
      |  WHERE value IS NOT NULL AND user_id IS NOT NULL
      |    AND event_type IS NOT NULL
      |),
      |runs AS (
      |  SELECT event_type, cents,
      |    CAST(count(*) AS BIGINT) AS cnt,
      |    CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS c0,
      |    CAST(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS c1,
      |    CAST(sum(CASE WHEN variant = 2 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS c2
      |  FROM e GROUP BY 1, 2
      |),
      |rk AS (
      |  SELECT event_type, cnt, c0, c1, c2,
      |    2 * (sum(cnt) OVER (PARTITION BY event_type ORDER BY cents
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - cnt)
      |      + cnt + 1 AS mid2
      |  FROM runs
      |),
      |agg AS (
      |  SELECT event_type,
      |    CAST(sum(c0) AS BIGINT) AS n0,
      |    CAST(sum(c1) AS BIGINT) AS n1,
      |    CAST(sum(c2) AS BIGINT) AS n2,
      |    CAST(sum(cnt) AS BIGINT) AS n,
      |    CAST(sum(c0 * mid2) AS BIGINT) AS r0,
      |    CAST(sum(c1 * mid2) AS BIGINT) AS r1,
      |    CAST(sum(c2 * mid2) AS BIGINT) AS r2,
      |    CAST(sum(cnt * cnt * cnt - cnt) AS BIGINT) AS ties3
      |  FROM rk GROUP BY 1
      |),
      |h AS (
      |  SELECT event_type, n0, n1, n2, n,
      |    CASE WHEN n0 > 0 AND n1 > 0 AND n2 > 0
      |      AND n * n * n - n > ties3 THEN
      |      (CAST(12 AS DOUBLE)
      |        / (CAST(n AS DOUBLE) * CAST(n + 1 AS DOUBLE))
      |        * (CAST(r0 AS DOUBLE) * CAST(r0 AS DOUBLE)
      |            / CAST(4 AS DOUBLE) / CAST(n0 AS DOUBLE)
      |          + CAST(r1 AS DOUBLE) * CAST(r1 AS DOUBLE)
      |            / CAST(4 AS DOUBLE) / CAST(n1 AS DOUBLE)
      |          + CAST(r2 AS DOUBLE) * CAST(r2 AS DOUBLE)
      |            / CAST(4 AS DOUBLE) / CAST(n2 AS DOUBLE))
      |        - CAST(3 AS DOUBLE) * CAST(n + 1 AS DOUBLE))
      |      / (CAST(1 AS DOUBLE)
      |        - CAST(ties3 AS DOUBLE)
      |          / CAST(n * n * n - n AS DOUBLE))
      |    ELSE NULL END AS hstat
      |  FROM agg
      |)
      |SELECT event_type, n0, n1, n2,
      |  round(hstat, 6) AS h,
      |  round(CAST(CAST(exp(CAST(0 AS DOUBLE) - hstat / CAST(2 AS DOUBLE))
      |    AS FLOAT) AS DOUBLE), 6) AS p_value,
      |  CASE hstat > 5.9915
      |    WHEN true THEN 'significant' WHEN false THEN 'ns' END
      |    AS significant
      |FROM h
      |ORDER BY event_type""".stripMargin,
  ) { (s, d) =>
    val e = Tables.events(s, d)
      .filter(col("value").isNotNull && col("user_id").isNotNull
        && col("event_type").isNotNull)
      .select(col("event_type"),
        expr("CAST(round(100 * value) AS BIGINT)").as("cents"),
        (conv(substring(md5(concat(lit("kw|"),
          col("user_id").cast("string"))), 1, 1), 16, 10).cast("long") % 3)
          .as("variant"))
    val runs = e.groupBy(col("event_type"), col("cents"))
      .agg(count(lit(1)).cast("long").as("cnt"),
        sum(when(col("variant") === 0, 1L).otherwise(0L)).cast("long")
          .as("c0"),
        sum(when(col("variant") === 1, 1L).otherwise(0L)).cast("long")
          .as("c1"),
        sum(when(col("variant") === 2, 1L).otherwise(0L)).cast("long")
          .as("c2"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("cents"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val rk = runs.withColumn("mid2",
      lit(2) * (sum(col("cnt")).over(w) - col("cnt")) + col("cnt") + 1)
    val agg = rk.groupBy(col("event_type"))
      .agg(sum(col("c0")).cast("long").as("n0"),
        sum(col("c1")).cast("long").as("n1"),
        sum(col("c2")).cast("long").as("n2"),
        sum(col("cnt")).cast("long").as("n"),
        sum(col("c0") * col("mid2")).cast("long").as("r0"),
        sum(col("c1") * col("mid2")).cast("long").as("r1"),
        sum(col("c2") * col("mid2")).cast("long").as("r2"),
        sum(col("cnt") * col("cnt") * col("cnt") - col("cnt")).cast("long")
          .as("ties3"))
    val hSql = """CASE WHEN n0 > 0 AND n1 > 0 AND n2 > 0
      |  AND n * n * n - n > ties3 THEN
      |  (CAST(12 AS DOUBLE)
      |    / (CAST(n AS DOUBLE) * CAST(n + 1 AS DOUBLE))
      |    * (CAST(r0 AS DOUBLE) * CAST(r0 AS DOUBLE)
      |        / CAST(4 AS DOUBLE) / CAST(n0 AS DOUBLE)
      |      + CAST(r1 AS DOUBLE) * CAST(r1 AS DOUBLE)
      |        / CAST(4 AS DOUBLE) / CAST(n1 AS DOUBLE)
      |      + CAST(r2 AS DOUBLE) * CAST(r2 AS DOUBLE)
      |        / CAST(4 AS DOUBLE) / CAST(n2 AS DOUBLE))
      |    - CAST(3 AS DOUBLE) * CAST(n + 1 AS DOUBLE))
      |  / (CAST(1 AS DOUBLE)
      |    - CAST(ties3 AS DOUBLE)
      |      / CAST(n * n * n - n AS DOUBLE))
      |ELSE NULL END""".stripMargin
    val hstat = expr(hSql)
    agg.select(col("event_type"), col("n0"), col("n1"), col("n2"),
        round(hstat, 6).as("h"),
        round(expr(s"""CAST(CAST(exp(CAST(0 AS DOUBLE)
          |  - ($hSql) / CAST(2 AS DOUBLE)) AS FLOAT) AS DOUBLE)"""
          .stripMargin), 6).as("p_value"),
        // §5.7 nullable-boolean rule (r16): string verdict, NULL H → NULL
        when(hstat > 5.9915, lit("significant"))
          .when(hstat <= 5.9915, lit("ns")).as("significant"))
      .orderBy(col("event_type"))
  }

  /** BURSTINESS COEFFICIENT — Goh & Barabási's B = (σ−μ)/(σ+μ) over
    * inter-arrival gaps per event type: −1 for a metronome, 0 for a
    * Poisson process, → +1 for heavy-tailed bursts. The single-number
    * summary beside q234's exponential-gap KS (which tests the WHOLE
    * gap distribution) and q178's burst islands (which localize them):
    * this one is the dashboard scalar a traffic-shape monitor trends.
    * CV = σ/μ rides along (B is its Möbius transform).
    *
    * Exactness: gaps are exact int64 MILLISECONDS from consecutive µs
    * timestamps over the (us, event_id) TOTAL order (q211's
    * discipline; sub-ms remainder truncated BY DEFINITION, stated), so
    * Σg and Σg² are exact int64 — bound: Σg² ≤ span_ms² needs span ≤
    * 35 days at ms grain (documented; longer spans re-grain to
    * seconds). σ is one fixed-order chain Q/n − μ², clamped at 0 with
    * greatest() against the ~1e-17 FP undershoot a mathematically-
    * zero radicand can take (sqrt(−ε) is NaN on BOTH engines — the
    * guard is explicit, not accidental). Types with < 2 gaps or an
    * all-zero-ms gap multiset (μ = 0) yield NULL via explicit CASE.
    *
    * Plan: one scan → one type-partitioned lag window (the q211 single
    * sort) → one 3-moment aggregate per type. Nothing joins; state is
    * 3 int64s per type.
    */
  val q246Burstiness = Q(
    "q246_burstiness",
    s"""WITH e AS (
      |  SELECT event_type,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_id
      |  FROM events
      |  WHERE ts IS NOT NULL AND event_type IS NOT NULL
      |),
      |g AS (
      |  SELECT event_type,
      |    (us - lag(us) OVER (PARTITION BY event_type
      |      ORDER BY us, event_id)) // 1000 AS gap
      |  FROM e
      |),
      |agg AS (
      |  SELECT event_type,
      |    CAST(count(gap) AS BIGINT) AS n,
      |    CAST(sum(gap) AS BIGINT) AS s,
      |    CAST(sum(gap * gap) AS BIGINT) AS q
      |  FROM g WHERE gap IS NOT NULL GROUP BY 1
      |),
      |st AS (
      |  SELECT event_type, n, s,
      |    CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mu,
      |    sqrt(greatest(
      |      CAST(q AS DOUBLE) / CAST(n AS DOUBLE)
      |        - (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
      |          * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)),
      |      CAST(0 AS DOUBLE))) AS sd
      |  FROM agg
      |)
      |SELECT event_type, n AS n_gaps,
      |  ${Exact.Sql.ratio6Big("s", "n")} AS mean_gap_ms,
      |  round(CASE WHEN n >= 2 AND s > 0 THEN sd / mu ELSE NULL END, 6)
      |    AS cv,
      |  round(CASE WHEN n >= 2 AND s > 0 THEN
      |    (sd - mu) / (sd + mu) ELSE NULL END, 6) AS burstiness
      |FROM st
      |ORDER BY event_type""".stripMargin,
  ) { (s, d) =>
    val e = Tables.events(s, d)
      .filter(col("ts").isNotNull && col("event_type").isNotNull)
      .select(col("event_type"), expr("unix_micros(ts)").as("us"),
        col("event_id"))
    // r16: scale-parallel gap stage (see OrderedBins.typeGapsCarry)
    val g = typeGapsCarry(e)
      .select(col("event_type"), expr("gp div 1000").as("gap"))
    val agg = g.groupBy(col("event_type"))
      .agg(count(col("gap")).cast("long").as("n"),
        sum(col("gap")).cast("long").as("s"),
        sum(col("gap") * col("gap")).cast("long").as("q"))
    val st = agg.select(col("event_type"), col("n"), col("s"),
      expr("CAST(s AS DOUBLE) / CAST(n AS DOUBLE)").as("mu"),
      expr("""sqrt(greatest(
        |  CAST(q AS DOUBLE) / CAST(n AS DOUBLE)
        |    - (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
        |      * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)),
        |  CAST(0 AS DOUBLE)))""".stripMargin).as("sd"))
    st.select(col("event_type"), col("n").as("n_gaps"),
        Exact.ratio6Big("s", "n").as("mean_gap_ms"), // Big: ms-gap sum ≈ span (r16 audit),
        round(expr(
          "CASE WHEN n >= 2 AND s > 0 THEN sd / mu ELSE NULL END"), 6)
          .as("cv"),
        round(expr("""CASE WHEN n >= 2 AND s > 0 THEN
          |  (sd - mu) / (sd + mu) ELSE NULL END""".stripMargin), 6)
          .as("burstiness"))
      .orderBy(col("event_type"))
  }

  /** MEAN-EXCESS TAIL FIT — peaks-over-threshold without order
    * statistics: per event type, threshold u = 2·mean(cents), exceeders
    * selected by the PURE INTEGER cross-multiply cents·n > 2·S (no
    * float mean ever materializes — the q178/q226 device), and the
    * mean excess e(u) = mean(cents − u | cents > u). For an exponential
    * tail e(u) equals the overall mean (memorylessness), so the
    * EXPONENTIALITY INDEX e(u)/mean separates heavy (> 1) from light
    * (< 1) tails — the moment-based companion to q212's Hill estimator,
    * which needs a top-k sort this operator deliberately avoids: at
    * 100 TB this is one scan + one broadcast join, no order statistics.
    *
    * Exactness: each excess is the exact int64 (cents·n − 2S) — a
    * ratio with denominator n — summed exactly (bound: Σ ≤ k·cents_max·n
    * ≈ 2e14 at sf0.1, documented to n·cents_max ≤ 4.6e14); the mean
    * excess divides ONCE by n·k (int64), the index is the literal
    * chain (num/(n·k))/(S/n) both engines. Zero exceeders (a point
    * mass at the mean) → NULL excess/index via explicit CASE; the
    * threshold itself is ratio6-exact. POSITIVE cents only BY
    * DEFINITION (tail analysis of magnitudes, the q242 convention) —
    * which also keeps every ratio6/div numerator non-negative, where
    * Spark's truncating div and DuckDB's flooring // agree (§5.7).
    *
    * Plan: one (type) moment aggregate, one broadcast join back, one
    * filtered aggregate — scan-dominated, 2-row state per type.
    */
  val q247MeanExcess = Q(
    "q247_mean_excess",
    """WITH e AS (
      |  SELECT event_type, CAST(round(100 * value) AS BIGINT) AS cents
      |  FROM events
      |  WHERE value IS NOT NULL AND event_type IS NOT NULL
      |    AND CAST(round(100 * value) AS BIGINT) > 0
      |),
      |m AS (
      |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(cents) AS BIGINT) AS s
      |  FROM e GROUP BY 1
      |),
      |exc AS (
      |  SELECT e.event_type,
      |    CAST(count(*) AS BIGINT) AS k,
      |    CAST(sum(e.cents * m.n - 2 * m.s) AS BIGINT) AS num
      |  FROM e JOIN m ON m.event_type = e.event_type
      |  WHERE e.cents * m.n > 2 * m.s
      |  GROUP BY 1
      |)
      |SELECT m.event_type, m.n,
      |  CAST(((2 * CAST(2 * m.s AS BIGINT) * 1000000 + CAST(m.n AS BIGINT))
      |    // nullif(2 * CAST(m.n AS BIGINT), 0)) AS DOUBLE) / 1000000.0
      |    AS threshold_cents,
      |  COALESCE(exc.k, 0) AS n_exceed,
      |  CAST(((2 * CAST(COALESCE(exc.k, 0) AS BIGINT) * 1000000
      |    + CAST(m.n AS BIGINT))
      |    // nullif(2 * CAST(m.n AS BIGINT), 0)) AS DOUBLE) / 1000000.0
      |    AS exceed_rate,
      |  round(CASE WHEN exc.k > 0 THEN
      |    CAST(exc.num AS DOUBLE) / CAST(m.n * exc.k AS DOUBLE)
      |    ELSE NULL END, 6) AS mean_excess_cents,
      |  round(CASE WHEN exc.k > 0 THEN
      |    (CAST(exc.num AS DOUBLE) / CAST(m.n * exc.k AS DOUBLE))
      |      / (CAST(m.s AS DOUBLE) / CAST(m.n AS DOUBLE))
      |    ELSE NULL END, 6) AS exp_index,
      |  CASE (CASE WHEN exc.k > 0 THEN
      |    (CAST(exc.num AS DOUBLE) / CAST(m.n * exc.k AS DOUBLE))
      |      / (CAST(m.s AS DOUBLE) / CAST(m.n AS DOUBLE))
      |    ELSE NULL END) > 1.0
      |    WHEN true THEN 'heavy' WHEN false THEN 'light' END
      |    AS heavy_tailed
      |FROM m LEFT JOIN exc ON exc.event_type = m.event_type
      |ORDER BY m.event_type""".stripMargin,
  ) { (s, d) =>
    val e = Tables.events(s, d)
      .filter(col("value").isNotNull && col("event_type").isNotNull)
      .select(col("event_type"),
        expr("CAST(round(100 * value) AS BIGINT)").as("cents"))
      .filter(col("cents") > 0)
    val m = e.groupBy(col("event_type"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("cents")).cast("long").as("s"))
    val exc = e.join(broadcast(m), "event_type")
      .filter(col("cents") * col("n") > lit(2) * col("s"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).cast("long").as("k"),
        sum(col("cents") * col("n") - lit(2) * col("s")).cast("long")
          .as("num"))
    val meSql = """CASE WHEN k > 0 THEN
      |  CAST(num AS DOUBLE) / CAST(n * k AS DOUBLE)
      |  ELSE NULL END""".stripMargin
    val idxSql = """CASE WHEN k > 0 THEN
      |  (CAST(num AS DOUBLE) / CAST(n * k AS DOUBLE))
      |    / (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
      |  ELSE NULL END""".stripMargin
    m.join(exc, Seq("event_type"), "left")
      .select(col("event_type"), col("n"),
        expr("""CAST(((2 * CAST(2 * s AS BIGINT) * 1000000
          |  + CAST(n AS BIGINT))
          |  div nullif(2 * CAST(n AS BIGINT), 0)) AS DOUBLE) / 1000000.0"""
          .stripMargin).as("threshold_cents"),
        coalesce(col("k"), lit(0L)).as("n_exceed"),
        expr("""CAST(((2 * CAST(COALESCE(k, 0) AS BIGINT) * 1000000
          |  + CAST(n AS BIGINT))
          |  div nullif(2 * CAST(n AS BIGINT), 0)) AS DOUBLE) / 1000000.0"""
          .stripMargin).as("exceed_rate"),
        round(expr(meSql), 6).as("mean_excess_cents"),
        round(expr(idxSql), 6).as("exp_index"),
        // §5.7 nullable-boolean rule (r16): string verdict — the zero-
        // exceeder NULL path (the fenced class) now yields NULL string
        when(expr(idxSql) > 1.0, lit("heavy"))
          .when(expr(idxSql) <= 1.0, lit("light")).as("heavy_tailed"))
      .orderBy(col("event_type"))
  }

  /** HOUR-OF-DAY ONE-WAY ANOVA — seasonality STRENGTH as a variance
    * decomposition: over the dense zero-filled hourly series, how much
    * of the count variance does hour-of-day explain? η² = SSB/SST from
    * the ANOVA identity (SSB = Σ_h S_h²/n_h − S²/n over the 24
    * hour-of-day cells), plus the F statistic (SSB/(k−1))/(SSW/(n−k)).
    * This is the decision gate in FRONT of q244: η² near 0 says "don't
    * bother deseasonalizing", and it quantifies what q204's MASE and
    * q244's profile assume. F's p-value is deliberately NOT reported —
    * df = (23, n−24) has no closed-form tail in either engine (the
    * exact inverse of the q216/q243/q245 df-2 design choice, stated
    * rather than approximated).
    *
    * Exactness: S, Σx², S_h, n_h exact int64 (S_h ≤ 3e9 squared bound
    * documented); each cell's S_h²/n_h is ONE double divide cast
    * DECIMAL(18,9) — the cross-cell sum is associative decimal, so
    * hod aggregation order cannot move bits (the q193-term discipline
    * applied to a 24-term sum); SST/SSB/F are fixed-order chains with
    * the S²/n subterm written ONCE and identically in both engines.
    * Degenerate guards explicit: SST = 0 (constant series, the solo/
    * flat edges) → NULL η² and F; k ≤ 1 or n ≤ k or SSW ≤ 0 → NULL F.
    *
    * Plan: the q244 grid, one (type, hod) aggregate (≤ 24 rows/type),
    * one type aggregate, a 1-row finish. Scan-dominated at any scale.
    */
  val q248HodAnova = Q(
    "q248_hod_anova",
    """WITH e AS (
      |  SELECT event_type,
      |    epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS m
      |  FROM events
      |  WHERE ts IS NOT NULL AND event_type IS NOT NULL
      |),
      |mc AS (SELECT event_type, m, count(*) AS cnt FROM e GROUP BY 1, 2),
      |b AS (SELECT event_type, min(m) AS m0, max(m) AS m1
      |      FROM mc GROUP BY 1),
      |grid AS (
      |  SELECT b.event_type, b.m0,
      |    unnest(range(0, b.m1 - b.m0 + 1)) AS t
      |  FROM b
      |),
      |x AS (
      |  SELECT g.event_type, (g.m0 + g.t) % 24 AS hod,
      |    COALESCE(mc.cnt, 0) AS x
      |  FROM grid g LEFT JOIN mc
      |    ON mc.event_type = g.event_type AND mc.m = g.m0 + g.t
      |),
      |prof AS (
      |  SELECT event_type, hod,
      |    CAST(sum(x) AS BIGINT) AS sh,
      |    CAST(count(*) AS BIGINT) AS nh
      |  FROM x GROUP BY 1, 2
      |),
      |tot AS (
      |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(x) AS BIGINT) AS s,
      |    CAST(sum(x * x) AS BIGINT) AS q
      |  FROM x GROUP BY 1
      |),
      |bs AS (
      |  SELECT event_type,
      |    CAST(count(*) AS BIGINT) AS k,
      |    sum(CAST(CAST(sh * sh AS DOUBLE) / CAST(nh AS DOUBLE)
      |      AS DECIMAL(18,9))) AS bdec
      |  FROM prof GROUP BY 1
      |),
      |fin AS (
      |  SELECT t.event_type, t.n, bs.k,
      |    CAST(t.q AS DOUBLE)
      |      - CAST(t.s AS DOUBLE) * CAST(t.s AS DOUBLE)
      |        / CAST(t.n AS DOUBLE) AS sstot,
      |    CAST(bs.bdec AS DOUBLE)
      |      - CAST(t.s AS DOUBLE) * CAST(t.s AS DOUBLE)
      |        / CAST(t.n AS DOUBLE) AS ssb
      |  FROM tot t JOIN bs ON bs.event_type = t.event_type
      |)
      |SELECT event_type, n AS span, k AS k_hods,
      |  round(CASE WHEN sstot > 0 THEN ssb / sstot ELSE NULL END, 6)
      |    AS eta2,
      |  round(CASE WHEN k > 1 AND n > k AND sstot - ssb > 0 THEN
      |    (ssb / CAST(k - 1 AS DOUBLE))
      |      / ((sstot - ssb) / CAST(n - k AS DOUBLE))
      |    ELSE NULL END, 6) AS f_stat,
      |  (CASE WHEN sstot > 0 THEN ssb / sstot ELSE NULL END) > 0.14
      |    AS strong_seasonality
      |FROM fin
      |ORDER BY event_type""".stripMargin,
  ) { (s, d) =>
    val mc = Tables.events(s, d)
      .filter(col("ts").isNotNull && col("event_type").isNotNull)
      .select(col("event_type"),
        expr("unix_micros(ts) div 3600000000").as("m"))
      .groupBy(col("event_type"), col("m")).agg(count(lit(1)).as("cnt"))
    val grid = mc.groupBy(col("event_type"))
      .agg(min(col("m")).as("m0"), max(col("m")).as("m1"))
      .select(col("event_type").as("g_type"), col("m0"),
        explode(sequence(lit(0L), col("m1") - col("m0"))).as("t"))
    val x = grid.join(mc,
        col("g_type") === mc("event_type")
          && mc("m") === col("m0") + col("t"), "left")
      .select(col("g_type").as("event_type"),
        ((col("m0") + col("t")) % 24).as("hod"),
        coalesce(col("cnt"), lit(0L)).as("x"))
      .transform(graft.operators.Iter.pin) // 2 consumers: the cell profile and the totals
    val prof = x.groupBy(col("event_type"), col("hod"))
      .agg(sum(col("x")).cast("long").as("sh"),
        count(lit(1)).cast("long").as("nh"))
    val tot = x.groupBy(col("event_type"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("x")).cast("long").as("s"),
        sum(col("x") * col("x")).cast("long").as("q"))
    val bs = prof.groupBy(col("event_type"))
      .agg(count(lit(1)).cast("long").as("k"),
        sum(expr("""CAST(CAST(sh * sh AS DOUBLE) / CAST(nh AS DOUBLE)
          |  AS DECIMAL(18,9))""".stripMargin)).as("bdec"))
    val fin = tot.join(bs, "event_type")
      .select(col("event_type"), col("n"), col("k"),
        expr("""CAST(q AS DOUBLE)
          |  - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
          |    / CAST(n AS DOUBLE)""".stripMargin).as("sstot"),
        expr("""CAST(bdec AS DOUBLE)
          |  - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
          |    / CAST(n AS DOUBLE)""".stripMargin).as("ssb"))
    val eta2 = expr(
      "CASE WHEN sstot > 0 THEN ssb / sstot ELSE NULL END")
    fin.select(col("event_type"), col("n").as("span"),
        col("k").as("k_hods"),
        round(eta2, 6).as("eta2"),
        round(expr("""CASE WHEN k > 1 AND n > k AND sstot - ssb > 0 THEN
          |  (ssb / CAST(k - 1 AS DOUBLE))
          |    / ((sstot - ssb) / CAST(n - k AS DOUBLE))
          |  ELSE NULL END""".stripMargin), 6).as("f_stat"),
        (eta2 > 0.14).as("strong_seasonality"))
      .orderBy(col("event_type"))
  }

  /** JAMES–STEIN SHRUNK DAILY MEANS — the selection-bias corrector for
    * "which event type runs hottest per day": raw per-type daily means
    * over the SHARED calendar grid are dominated (k > 3) by shrinking
    * every mean toward the grand mean by
    * c = max(0, 1 − (k−3)·(s²_w/D)/B), s²_w the pooled within-type
    * daily variance, B = Σ(x̄_i − x̄)² the between-type spread. Where
    * q233's Bayesian average shrinks ONE noisy group with a chosen
    * prior weight, this estimates the weight FROM the ensemble — the
    * classic empirical-Bayes leaderboard de-noiser, and the reason the
    * top of a raw leaderboard regresses next week.
    *
    * Exactness: the shared day grid (all types span the same [g0, g1] —
    * the grid is GLOBAL so every x̄_i has the same denominator D and
    * the equal-variance JS setup applies) gives exact int64 S_i, Q_i,
    * S_i² (≤ ~4e10 at sf0.1, documented to S_i ≤ 3e9); the between and
    * within terms are per-type fixed-order double chains cast
    * DECIMAL(28,9) — wider than the house 18 because Q_i − S_i²/D is an
    * un-normalized SS that clears 1e9 at modest density — summed
    * associatively ACROSS types via the q197 window-total idiom, so
    * type order cannot move bits. k ≤ 3 (the JS dominance condition),
    * D ≤ 1, or B = 0 (all means equal) → NULL factor and shrunk means
    * via explicit CASE on both engines.
    *
    * Plan: one scan → (type, day) counts → global-bounds broadcast grid
    * join (|types|·D rows) → one 3-moment aggregate per type → window
    * totals over the k-row frame. Scan-dominated; k-row state.
    */
  val q249JamesStein = Q(
    "q249_james_stein",
    """WITH e AS (
      |  SELECT event_type,
      |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day
      |  FROM events
      |  WHERE ts IS NOT NULL AND event_type IS NOT NULL
      |),
      |gb AS (SELECT min(day) AS g0, max(day) AS g1 FROM e),
      |dc AS (SELECT event_type, day, count(*) AS c FROM e GROUP BY 1, 2),
      |ty AS (SELECT DISTINCT event_type FROM e),
      |grid AS (
      |  SELECT ty.event_type, gb.g0 + u.t AS day
      |  FROM ty CROSS JOIN gb
      |  CROSS JOIN (SELECT unnest(range(0, (SELECT g1 - g0 + 1 FROM gb)))
      |    AS t) u
      |),
      |x AS (
      |  SELECT g.event_type, COALESCE(dc.c, 0) AS c
      |  FROM grid g LEFT JOIN dc
      |    ON dc.event_type = g.event_type AND dc.day = g.day
      |),
      |mom AS (
      |  SELECT event_type, CAST(count(*) AS BIGINT) AS dd,
      |    CAST(sum(c) AS BIGINT) AS s,
      |    CAST(sum(c * c) AS BIGINT) AS q
      |  FROM x GROUP BY 1
      |),
      |w1 AS (
      |  SELECT event_type, dd, s, q,
      |    CAST(count(*) OVER () AS BIGINT) AS k,
      |    CAST(sum(s) OVER () AS BIGINT) AS g
      |  FROM mom
      |),
      |w AS (
      |  SELECT event_type, dd, s, k, g,
      |    CAST(sum(CAST(
      |      (CAST(s AS DOUBLE) / CAST(dd AS DOUBLE)
      |        - CAST(g AS DOUBLE) / CAST(k * dd AS DOUBLE))
      |      * (CAST(s AS DOUBLE) / CAST(dd AS DOUBLE)
      |        - CAST(g AS DOUBLE) / CAST(k * dd AS DOUBLE))
      |      AS DECIMAL(28,9))) OVER () AS DOUBLE) AS bvar,
      |    CAST(sum(CAST(
      |      CAST(q AS DOUBLE)
      |        - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(dd AS DOUBLE)
      |      AS DECIMAL(28,9))) OVER () AS DOUBLE) AS wss
      |  FROM w1
      |),
      |fin AS (
      |  SELECT event_type, dd, s, k,
      |    CAST(s AS DOUBLE) / CAST(dd AS DOUBLE) AS raw,
      |    CAST(g AS DOUBLE) / CAST(k * dd AS DOUBLE) AS grand,
      |    CASE WHEN k > 3 AND dd > 1 AND bvar > 0 THEN
      |      greatest(CAST(0 AS DOUBLE),
      |        CAST(1 AS DOUBLE)
      |          - CAST(k - 3 AS DOUBLE)
      |            * ((wss / CAST(k * (dd - 1) AS DOUBLE))
      |              / CAST(dd AS DOUBLE))
      |            / bvar)
      |    ELSE NULL END AS cf
      |  FROM w
      |)
      |SELECT event_type, CAST(s AS BIGINT) AS n_events,
      |  CAST(dd AS BIGINT) AS days,
      |  CAST(((2 * CAST(s AS BIGINT) * 1000000 + CAST(dd AS BIGINT))
      |    // nullif(2 * CAST(dd AS BIGINT), 0)) AS DOUBLE) / 1000000.0
      |    AS raw_daily_mean,
      |  round(cf, 6) AS shrink_factor,
      |  round(grand + cf * (raw - grand), 6) AS shrunk_daily_mean
      |FROM fin
      |ORDER BY event_type""".stripMargin,
  ) { (s, d) =>
    val e = Tables.events(s, d)
      .filter(col("ts").isNotNull && col("event_type").isNotNull)
      .select(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("day"))
    val gb = e.agg(min(col("day")).as("g0"), max(col("day")).as("g1"))
    val dc = e.groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("c"))
    val ty = e.select(col("event_type")).distinct()
    val grid = ty.crossJoin(broadcast(gb))
      .select(col("event_type").as("g_type"), col("g0"),
        explode(sequence(lit(0L), col("g1") - col("g0"))).as("t"))
      .select(col("g_type"), (col("g0") + col("t")).as("day"))
    val x = grid.join(dc,
        col("g_type") === dc("event_type") && dc("day") === grid("day"),
        "left")
      .select(col("g_type").as("event_type"),
        coalesce(col("c"), lit(0L)).as("c"))
    val mom = x.groupBy(col("event_type"))
      .agg(count(lit(1)).cast("long").as("dd"),
        sum(col("c")).cast("long").as("s"),
        sum(col("c") * col("c")).cast("long").as("q"))
    val wAll = Window.partitionBy()
    val w1 = mom.select(col("event_type"), col("dd"), col("s"), col("q"),
      count(lit(1)).over(wAll).cast("long").as("k"),
      sum(col("s")).over(wAll).cast("long").as("g"))
    val w = w1.select(col("event_type"), col("dd"), col("s"), col("k"),
      col("g"),
      sum(expr("""CAST(
        |  (CAST(s AS DOUBLE) / CAST(dd AS DOUBLE)
        |    - CAST(g AS DOUBLE) / CAST(k * dd AS DOUBLE))
        |  * (CAST(s AS DOUBLE) / CAST(dd AS DOUBLE)
        |    - CAST(g AS DOUBLE) / CAST(k * dd AS DOUBLE))
        |  AS DECIMAL(28,9))""".stripMargin)).over(wAll).cast("double")
        .as("bvar"),
      sum(expr("""CAST(
        |  CAST(q AS DOUBLE)
        |    - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(dd AS DOUBLE)
        |  AS DECIMAL(28,9))""".stripMargin)).over(wAll).cast("double")
        .as("wss"))
    val fin = w.select(col("event_type"), col("dd"), col("s"), col("k"),
      expr("CAST(s AS DOUBLE) / CAST(dd AS DOUBLE)").as("raw"),
      expr("CAST(g AS DOUBLE) / CAST(k * dd AS DOUBLE)").as("grand"),
      expr("""CASE WHEN k > 3 AND dd > 1 AND bvar > 0 THEN
        |  greatest(CAST(0 AS DOUBLE),
        |    CAST(1 AS DOUBLE)
        |      - CAST(k - 3 AS DOUBLE)
        |        * ((wss / CAST(k * (dd - 1) AS DOUBLE))
        |          / CAST(dd AS DOUBLE))
        |        / bvar)
        |ELSE NULL END""".stripMargin).as("cf"))
    fin.select(col("event_type"), col("s").cast("long").as("n_events"),
        col("dd").cast("long").as("days"),
        Exact.ratio6("s", "dd").as("raw_daily_mean"),
        round(col("cf"), 6).as("shrink_factor"),
        round(expr("grand + cf * (raw - grand)"), 6)
          .as("shrunk_daily_mean"))
      .orderBy(col("event_type"))
  }

  /** SAMPLE-RATIO MISMATCH CHECK — the experiment-health gate that runs
    * BEFORE any q154/q177 readout: a 3-arm md5 split ('srm|' salt, the
    * q65 hash-split device) should land each arm at n/3 users; the χ²
    * goodness-of-fit Q = Σ(Oₐ − n/3)²/(n/3) collapses to the EXACT int64
    * rational (3·ΣOₐ² − n²)/n (derived with the literal 3, so an arm
    * with ZERO users contributes its (0 − n/3)² term correctly even
    * though it emits no output row). df = k−1 = 2 — the q216 closed-form
    * tail p = e^(−Q/2) applies (no erf in either engine); a p below
    * 0.001 is the standard "stop the experiment, the assignment is
    * broken" flag (Fabijan et al.'s diagnostic threshold).
    *
    * The arm draws EIGHT hex digits, not one: 16 % 3 ≠ 0, so a single
    * digit % 3 lands arms at 6/16, 5/16, 5/16 — a built-in SRM with
    * noncentrality ≈ 0.0078·n that flags every healthy corpus past a
    * few thousand users. 16⁸ % 3 = 1, so the 8-digit draw's bias is
    * one part in 16⁸ — invisible to the test at any realistic n (the
    * round-15 ADVICE fix; q253's % 2 splits are unbiased as-is since
    * 16 % 2 = 0).
    *
    * Exactness: arm counts are exact int64 over distinct users; Q is ONE
    * double division of exact int64s; the tail goes through the q216
    * float-cast-exp quantization. n = 0 → empty output (no users, no
    * verdict).
    *
    * Plan: one distinct-user aggregate (map-side combined), a ≤3-row arm
    * table with a 1-row total attached by the q197 window idiom. At
    * 100 TB the post-distinct state is one row per user — the same
    * footprint every experiment operator here already carries.
    */
  val q252SrmCheck = Q(
    "q252_srm_check",
    s"""WITH u AS (
      |  SELECT DISTINCT user_id,
      |    CAST(('0x' || substr(md5('srm|' || CAST(user_id AS VARCHAR)),
      |      1, 8)) AS BIGINT) % 3 AS arm
      |  FROM events WHERE user_id IS NOT NULL
      |),
      |a AS (SELECT arm, CAST(count(*) AS BIGINT) AS o FROM u GROUP BY 1),
      |t AS (
      |  SELECT CAST(sum(o) AS BIGINT) AS n,
      |    CAST(sum(o * o) AS BIGINT) AS oq
      |  FROM a
      |)
      |SELECT a.arm, a.o AS observed,
      |  ${Exact.Sql.ratio6("a.o", "t.n")} AS share,
      |  round(CAST(3 * t.oq - t.n * t.n AS DOUBLE) / CAST(t.n AS DOUBLE),
      |    6) AS chi2,
      |  round(CAST(CAST(exp(CAST(0 AS DOUBLE)
      |      - CAST(3 * t.oq - t.n * t.n AS DOUBLE) / CAST(t.n AS DOUBLE)
      |        / CAST(2 AS DOUBLE)) AS FLOAT) AS DOUBLE), 6) AS p_value,
      |  CASE CAST(CAST(exp(CAST(0 AS DOUBLE)
      |      - CAST(3 * t.oq - t.n * t.n AS DOUBLE) / CAST(t.n AS DOUBLE)
      |        / CAST(2 AS DOUBLE)) AS FLOAT) AS DOUBLE) < 0.001
      |    WHEN true THEN 'srm' WHEN false THEN 'ok' END
      |    AS srm_flag
      |FROM a CROSS JOIN t
      |ORDER BY a.arm""".stripMargin,
  ) { (s, d) =>
    val u = Tables.events(s, d)
      .filter(col("user_id").isNotNull)
      .select(col("user_id"),
        (conv(substring(md5(concat(lit("srm|"),
          col("user_id").cast("string"))), 1, 8), 16, 10)
          .cast("long") % 3).as("arm"))
      .distinct()
    val a = u.groupBy(col("arm")).agg(count(lit(1)).cast("long").as("o"))
    val wAll = Window.partitionBy()
    val w = a.select(col("arm"), col("o"),
      sum(col("o")).over(wAll).cast("long").as("n"),
      sum(col("o") * col("o")).over(wAll).cast("long").as("oq"))
    val q = expr("CAST(3 * oq - n * n AS DOUBLE) / CAST(n AS DOUBLE)")
    val p = expr("""CAST(CAST(exp(CAST(0 AS DOUBLE)
      |    - CAST(3 * oq - n * n AS DOUBLE) / CAST(n AS DOUBLE)
      |      / CAST(2 AS DOUBLE)) AS FLOAT) AS DOUBLE)""".stripMargin)
    w.select(col("arm"), col("o").as("observed"),
        Exact.ratio6("o", "n").as("share"),
        round(q, 6).as("chi2"),
        round(p, 6).as("p_value"),
        // §5.7 nullable-boolean rule (r16): string verdict, NULL p → NULL
        when(p < 0.001, lit("srm"))
          .when(p >= 0.001, lit("ok")).as("srm_flag"))
      .orderBy(col("arm"))
  }

  /** POST-STRATIFIED ATE — the observational cousin of q177's CUPED:
    * stratify users into activity quartiles (ntile(4) on total event
    * count, heaviest first, user_id tiebreak — the q174 decile device),
    * difference the arm means WITHIN each stratum, and weight the
    * per-stratum differences by stratum size. Stratification removes the
    * confounding that total activity carries into spend, and the
    * stratum-weighted combination Σ wₛ·(ȳₜ,ₛ − ȳ꜀,ₛ) is the textbook
    * post-stratification estimator (the design-based identity twin of
    * regression adjustment on stratum dummies).
    *
    * Exactness: per-user spend is exact int64 cents (value IS NOT NULL
    * terms only, the q177 CASE); each cell mean is ONE double divide of
    * exact int64s, the per-stratum diff a fixed-order chain, and the
    * weighted combination quantizes each wₛ·diffₛ term to DECIMAL(18,9)
    * before the associative window total (the q197 idiom). A stratum
    * missing either arm has no defined contrast — the ATE is NULL for
    * the whole readout (stated: post-stratification is undefined on
    * unsupported strata, never silently re-weighted).
    *
    * Plan: one per-user aggregate, one user-count ntile window (q161's
    * shard note applies at 10⁹ users), an 8-cell aggregate, a 4-row
    * finish. Nothing after the per-user collapse is row-proportional.
    */
  val q253PostStratAte = Q(
    "q253_post_strat_ate",
    s"""WITH m AS (
      |  SELECT user_id,
      |    CAST(('0x' || substr(md5('ab|' || CAST(user_id AS VARCHAR)),
      |      1, 1)) AS BIGINT) % 2 AS arm,
      |    CAST(count(*) AS BIGINT) AS n_events,
      |    CAST(sum(CASE WHEN value IS NOT NULL
      |      THEN CAST(round(100 * value) AS BIGINT) ELSE 0 END)
      |      AS BIGINT) AS cents
      |  FROM events WHERE user_id IS NOT NULL
      |  GROUP BY 1, 2
      |),
      |s AS (
      |  SELECT user_id, arm, cents,
      |    ntile(4) OVER (ORDER BY n_events DESC, user_id) AS stratum
      |  FROM m
      |),
      |cell AS (
      |  SELECT stratum, arm, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(cents) AS BIGINT) AS sc
      |  FROM s GROUP BY 1, 2
      |),
      |st AS (
      |  SELECT stratum,
      |    max(CASE WHEN arm = 1 THEN n END) AS nt,
      |    max(CASE WHEN arm = 1 THEN sc END) AS sct,
      |    max(CASE WHEN arm = 0 THEN n END) AS nc,
      |    max(CASE WHEN arm = 0 THEN sc END) AS scc
      |  FROM cell GROUP BY 1
      |),
      |f AS (
      |  SELECT stratum, nt, nc,
      |    CASE WHEN nt IS NOT NULL AND nc IS NOT NULL THEN
      |      (CAST(sct AS DOUBLE) / CAST(nt AS DOUBLE)
      |        - CAST(scc AS DOUBLE) / CAST(nc AS DOUBLE)) / 100.0
      |    ELSE NULL END AS diff,
      |    sum(COALESCE(nt, 0) + COALESCE(nc, 0)) OVER () AS ntot
      |  FROM st
      |),
      |g AS (
      |  SELECT stratum, nt, nc, diff, ntot,
      |    sum(CAST(diff * (CAST(COALESCE(nt, 0) + COALESCE(nc, 0)
      |        AS DOUBLE) / CAST(ntot AS DOUBLE)) AS DECIMAL(18,9)))
      |      OVER () AS wsum,
      |    sum(CASE WHEN diff IS NULL THEN 1 ELSE 0 END) OVER () AS bad
      |  FROM f
      |)
      |SELECT CAST(stratum AS INTEGER) AS stratum,
      |  COALESCE(nt, 0) AS n_treat, COALESCE(nc, 0) AS n_ctrl,
      |  round(diff, 6) AS stratum_diff,
      |  CASE WHEN bad = 0 THEN round(CAST(wsum AS DOUBLE), 6)
      |    ELSE NULL END AS ate
      |FROM g
      |ORDER BY stratum""".stripMargin,
  ) { (s, d) =>
    val m = Tables.events(s, d)
      .filter(col("user_id").isNotNull)
      .groupBy(col("user_id"),
        (conv(substring(md5(concat(lit("ab|"),
          col("user_id").cast("string"))), 1, 1), 16, 10)
          .cast("long") % 2).as("arm"))
      .agg(count(lit(1)).cast("long").as("n_events"),
        sum(when(col("value").isNotNull,
          expr("CAST(round(100 * value) AS BIGINT)")).otherwise(0L))
          .cast("long").as("cents"))
    // r17: scale-parallel closed-form ntile (was a global one-task sort)
    val st = ntilePar(m.transform(graft.operators.Iter.pin), 4, "n_events", desc = true,
        Seq("user_id"))
      .select(col("arm"), col("cents"), col("tile").as("stratum"))
      .groupBy(col("stratum"), col("arm"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("cents")).cast("long").as("sc"))
      .groupBy(col("stratum"))
      .agg(max(when(col("arm") === 1, col("n"))).as("nt"),
        max(when(col("arm") === 1, col("sc"))).as("sct"),
        max(when(col("arm") === 0, col("n"))).as("nc"),
        max(when(col("arm") === 0, col("sc"))).as("scc"))
    val wAll = Window.partitionBy()
    val f = st.select(col("stratum"), col("nt"), col("nc"),
      expr("""CASE WHEN nt IS NOT NULL AND nc IS NOT NULL THEN
        |  (CAST(sct AS DOUBLE) / CAST(nt AS DOUBLE)
        |    - CAST(scc AS DOUBLE) / CAST(nc AS DOUBLE)) / 100.0
        |ELSE NULL END""".stripMargin).as("diff"),
      sum(coalesce(col("nt"), lit(0L)) + coalesce(col("nc"), lit(0L)))
        .over(wAll).as("ntot"))
    val g = f.select(col("stratum"), col("nt"), col("nc"), col("diff"),
      sum(expr("""CAST(diff * (CAST(COALESCE(nt, 0) + COALESCE(nc, 0)
        |  AS DOUBLE) / CAST(ntot AS DOUBLE)) AS DECIMAL(18,9))"""
        .stripMargin)).over(wAll).as("wsum"),
      sum(when(col("diff").isNull, 1).otherwise(0)).over(wAll).as("bad"))
    g.select(col("stratum").cast("int").as("stratum"),
        coalesce(col("nt"), lit(0L)).as("n_treat"),
        coalesce(col("nc"), lit(0L)).as("n_ctrl"),
        round(col("diff"), 6).as("stratum_diff"),
        when(col("bad") === 0, round(col("wsum").cast("double"), 6))
          .otherwise(lit(null)).as("ate"))
      .orderBy(col("stratum"))
  }

  /** MDE / POWER CALCULATOR — the question every experiment review asks
    * FIRST: with this much history, what daily-mean shift could a
    * two-arm test even detect? From each type's daily-count moments the
    * minimum detectable effect at α = 0.05 (two-sided), power 0.80, for
    * a two-sample comparison with n days per arm is
    * MDE = (z₀.₉₇₅ + z₀.₈₀)·√(2s²/n) — the 2.801585 literal is that
    * z-sum (1.959964 + 0.841621), the only distribution constant the
    * formula needs.
    *
    * Exactness: n/S/Q are the q235 exact int64 grid moments;
    * s² = (nQ − S²)/(n(n−1)) and the MDE are ONE fixed-order double
    * chain with a single IEEE sqrt; the relative MDE divides by the
    * exact-rational mean with a nullif(S) guard (an all-zero series has
    * no relative scale). Single-day spans carry no variance — excluded
    * (WHERE n > 1, stated).
    *
    * Plan: the q235 per-type dense-grid aggregate, 5-row finish —
    * scan-dominated at any scale.
    */
  val q254MdePower = Q(
    "q254_mde_power",
    s"""WITH e AS (
      |  SELECT event_type,
      |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day
      |  FROM events
      |  WHERE ts IS NOT NULL AND event_type IS NOT NULL
      |),
      |dc AS (SELECT event_type, day, CAST(count(*) AS BIGINT) AS cnt
      |       FROM e GROUP BY 1, 2),
      |b AS (SELECT event_type, min(day) AS d0, max(day) AS d1
      |      FROM dc GROUP BY 1),
      |grid AS (
      |  SELECT b.event_type, unnest(range(0, b.d1 - b.d0 + 1)) AS t,
      |    b.d0
      |  FROM b
      |),
      |x AS (
      |  SELECT g.event_type, COALESCE(dc.cnt, 0) AS c
      |  FROM grid g LEFT JOIN dc
      |    ON dc.event_type = g.event_type AND dc.day = g.d0 + g.t
      |),
      |mom AS (
      |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(c) AS BIGINT) AS s,
      |    CAST(sum(c * c) AS BIGINT) AS q
      |  FROM x GROUP BY 1
      |)
      |SELECT event_type, n AS n_days,
      |  ${Exact.Sql.ratio6("s", "n")} AS mean_count,
      |  round(CAST(n * q - s * s AS DOUBLE)
      |    / CAST(n AS DOUBLE) / CAST(n - 1 AS DOUBLE), 6) AS var_count,
      |  round(2.801585 * sqrt(CAST(2 AS DOUBLE)
      |      * (CAST(n * q - s * s AS DOUBLE)
      |        / CAST(n AS DOUBLE) / CAST(n - 1 AS DOUBLE))
      |      / CAST(n AS DOUBLE)), 6) AS mde_abs,
      |  round(2.801585 * sqrt(CAST(2 AS DOUBLE)
      |      * (CAST(n * q - s * s AS DOUBLE)
      |        / CAST(n AS DOUBLE) / CAST(n - 1 AS DOUBLE))
      |      / CAST(n AS DOUBLE))
      |    * CAST(n AS DOUBLE) / nullif(CAST(s AS DOUBLE),
      |      CAST(0 AS DOUBLE)), 6) AS mde_rel
      |FROM mom WHERE n > 1
      |ORDER BY event_type""".stripMargin,
  ) { (s, d) =>
    val dc = Tables.events(s, d)
      .filter(col("ts").isNotNull && col("event_type").isNotNull)
      .select(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("day"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).cast("long").as("cnt"))
    val grid = dc.groupBy(col("event_type"))
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(col("event_type").as("g_type"), col("d0"),
        explode(sequence(lit(0L), col("d1") - col("d0"))).as("t"))
    val x = grid.join(dc,
        col("g_type") === dc("event_type")
          && dc("day") === col("d0") + col("t"), "left")
      .select(col("g_type").as("event_type"),
        coalesce(col("cnt"), lit(0L)).as("c"))
    val mom = x.groupBy(col("event_type"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("c")).cast("long").as("s"),
        sum(col("c") * col("c")).cast("long").as("q"))
    val mde = expr("""2.801585 * sqrt(CAST(2 AS DOUBLE)
      |  * (CAST(n * q - s * s AS DOUBLE)
      |    / CAST(n AS DOUBLE) / CAST(n - 1 AS DOUBLE))
      |  / CAST(n AS DOUBLE))""".stripMargin)
    mom.filter(col("n") > 1)
      .select(col("event_type"), col("n").as("n_days"),
        Exact.ratio6("s", "n").as("mean_count"),
        round(expr("""CAST(n * q - s * s AS DOUBLE)
          |  / CAST(n AS DOUBLE) / CAST(n - 1 AS DOUBLE)""".stripMargin),
          6).as("var_count"),
        round(mde, 6).as("mde_abs"),
        round(mde * expr("""CAST(n AS DOUBLE)
          |  / nullif(CAST(s AS DOUBLE), CAST(0 AS DOUBLE))"""
          .stripMargin), 6).as("mde_rel"))
      .orderBy(col("event_type"))
  }

  /** REGRESSION DISCONTINUITY — the quasi-experimental workhorse when
    * there is no randomized arm at all: rank users by first-half
    * activity (the q174 forcing variable, (count DESC, user_id) total
    * order), cut at the median rank, and fit SEPARATE local linear
    * regressions of second-half purchase count on the centered rank
    * within a bandwidth of n/4 ranks on each side. The jump between the
    * two boundary intercepts is the causal effect of crossing the
    * threshold — IF the only thing that changes at the cutoff is the
    * treatment (the RD identification assumption; here it is a
    * self-diagnostic: the fixture has no real threshold so the honest
    * answer is a jump near 0).
    *
    * Exactness: rank and outcome are exact int64, so both side fits ride
    * the q155 normal-equation route — five exact int64 moments per side
    * (|x| ≤ n/4, Σxy ≤ n²·ymax/16 — int64-safe to 10⁸ users at this
    * fixture's outcome scale), slope/intercept ONE fixed-order double
    * chain each, and the effect a_left − a_right a two-term finish.
    * Degenerate sides (fewer than 2 ranks or zero x-variance) → NULL via
    * nullif; the effect is NULL unless BOTH intercepts exist.
    *
    * Plan: one per-user aggregate, one user-count rank window (q161's
    * shard note), two 1-row side aggregates joined by the q197 window
    * idiom. Nothing after the per-user collapse is row-proportional.
    */
  val q255RegDiscontinuity = Q(
    "q255_reg_discontinuity",
    s"""WITH b AS (
      |  SELECT (min(epoch_us(CAST(ts AS TIMESTAMP)))
      |    + max(epoch_us(CAST(ts AS TIMESTAMP)))) // 2 AS mid
      |  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
      |),
      |h AS (
      |  SELECT user_id,
      |    sum(CASE WHEN epoch_us(CAST(ts AS TIMESTAMP)) <= b.mid
      |        THEN 1 ELSE 0 END) AS s1,
      |    sum(CASE WHEN epoch_us(CAST(ts AS TIMESTAMP)) > b.mid
      |          AND event_type = 'purchase' THEN 1 ELSE 0 END) AS y
      |  FROM events, b
      |  WHERE ts IS NOT NULL AND user_id IS NOT NULL
      |  GROUP BY user_id
      |),
      |r AS (
      |  SELECT CAST(row_number() OVER (ORDER BY s1 DESC, user_id)
      |      AS BIGINT) AS rk,
      |    CAST(y AS BIGINT) AS y,
      |    CAST(count(*) OVER () AS BIGINT) AS n
      |  FROM h WHERE s1 > 0
      |),
      |sd AS (
      |  SELECT CASE WHEN rk <= (n + 1) // 2 THEN 'left' ELSE 'right'
      |      END AS side,
      |    rk - (n + 1) // 2 AS x, y, n
      |  FROM r
      |  WHERE rk > (n + 1) // 2 - n // 4
      |    AND rk <= (n + 1) // 2 + n // 4
      |),
      |m AS (
      |  SELECT side, CAST(count(*) AS BIGINT) AS k,
      |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
      |    CAST(sum(x * x) AS BIGINT) AS sxx,
      |    CAST(sum(x * y) AS BIGINT) AS sxy
      |  FROM sd GROUP BY 1
      |),
      |f AS (
      |  SELECT side, k,
      |    (CAST(k AS DOUBLE) * CAST(sxy AS DOUBLE)
      |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |      / nullif(CAST(k AS DOUBLE) * CAST(sxx AS DOUBLE)
      |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0) AS slope,
      |    (CAST(sy AS DOUBLE) * CAST(sxx AS DOUBLE)
      |      - CAST(sx AS DOUBLE) * CAST(sxy AS DOUBLE))
      |      / nullif(CAST(k AS DOUBLE) * CAST(sxx AS DOUBLE)
      |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0) AS icept
      |  FROM m
      |),
      |g AS (
      |  SELECT side, k, slope, icept,
      |    max(CASE WHEN side = 'left' THEN icept END) OVER () AS al,
      |    max(CASE WHEN side = 'right' THEN icept END) OVER () AS ar
      |  FROM f
      |)
      |SELECT side, k AS n_side, round(slope, 6) AS slope,
      |  round(icept, 6) AS boundary_mean,
      |  round(al - ar, 6) AS rd_effect
      |FROM g
      |ORDER BY side""".stripMargin,
  ) { (s, d) =>
    val ev = Tables.events(s, d)
      .filter(col("ts").isNotNull && col("user_id").isNotNull)
      .select(col("user_id"), col("event_type"),
        expr("unix_micros(ts)").as("us"))
    val b = ev.agg(expr("(min(us) + max(us)) div 2").as("mid"))
    val h = ev.crossJoin(broadcast(b))
      .groupBy(col("user_id"))
      .agg(sum(when(col("us") <= col("mid"), 1).otherwise(0)).as("s1"),
        sum(when(col("us") > col("mid")
          && col("event_type") === "purchase", 1).otherwise(0))
          .cast("long").as("y"))
      .filter(col("s1") > 0)
    // r17: scale-parallel rank (was a global one-task sort; the n count
    // rides the same device's partition total, not an all-to-one window)
    val r = rankPar(h.transform(graft.operators.Iter.pin), "s1", desc = true, Seq("user_id"))
      .select(col("i").as("rk"), col("y"), col("nd").as("n"))
    val sd = r
      .filter(col("rk") > expr("(n + 1) div 2 - n div 4")
        && col("rk") <= expr("(n + 1) div 2 + n div 4"))
      .select(
        when(col("rk") <= expr("(n + 1) div 2"), "left")
          .otherwise("right").as("side"),
        (col("rk") - expr("(n + 1) div 2")).as("x"), col("y"))
    val m = sd.groupBy(col("side"))
      .agg(count(lit(1)).cast("long").as("k"),
        sum(col("x")).cast("long").as("sx"),
        sum(col("y")).cast("long").as("sy"),
        sum(col("x") * col("x")).cast("long").as("sxx"),
        sum(col("x") * col("y")).cast("long").as("sxy"))
    val den = expr("""nullif(CAST(k AS DOUBLE) * CAST(sxx AS DOUBLE)
      |  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), CAST(0 AS DOUBLE))"""
      .stripMargin)
    val f = m.select(col("side"), col("k"),
      (expr("""CAST(k AS DOUBLE) * CAST(sxy AS DOUBLE)
        |  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)""".stripMargin) / den)
        .as("slope"),
      (expr("""CAST(sy AS DOUBLE) * CAST(sxx AS DOUBLE)
        |  - CAST(sx AS DOUBLE) * CAST(sxy AS DOUBLE)""".stripMargin) / den)
        .as("icept"))
    val wAll = Window.partitionBy()
    f.select(col("side"), col("k").as("n_side"),
        round(col("slope"), 6).as("slope"),
        round(col("icept"), 6).as("boundary_mean"),
        round(max(when(col("side") === "left", col("icept"))).over(wAll)
          - max(when(col("side") === "right", col("icept"))).over(wAll),
          6).as("rd_effect"))
      .orderBy(col("side"))
  }

  /** UPLIFT QINI CURVE — does treating the RIGHT users beat treating
    * random users? Users are deciled by first-half activity (the
    * targeting score), and within each cumulative targeting depth the
    * Qini coordinate X_t(d) − X_c(d)·N_t(d)/N_c(d) compares treated
    * conversions against the control conversions SCALED to the treated
    * exposure — the area under this curve is the standard uplift-model
    * evaluation (Radcliffe's Qini). A flat/linear curve = the score
    * carries no heterogeneous treatment effect (the honest fixture
    * answer: arms are a hash split).
    *
    * Exactness: all eight cumulative quantities are exact int64 window
    * sums over the decile-ordered cells; the Qini coordinate and the
    * per-decile uplift are fixed-order double chains with nullif guards
    * on empty control cells (a decile with no control users has no
    * scaled baseline — NULL, stated). Converter = ≥1 second-half
    * purchase; midpoint split and ntile tiebreaks are the q174 device.
    *
    * Plan: one per-user conditional aggregate, one user-count ntile
    * window, a 20-cell aggregate, a 10-row cumulative window. The curve
    * is dashboard-sized at any corpus scale.
    */
  val q256UpliftQini = Q(
    "q256_uplift_qini",
    s"""WITH b AS (
      |  SELECT (min(epoch_us(CAST(ts AS TIMESTAMP)))
      |    + max(epoch_us(CAST(ts AS TIMESTAMP)))) // 2 AS mid
      |  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
      |),
      |h AS (
      |  SELECT user_id,
      |    CAST(('0x' || substr(md5('ab|' || CAST(user_id AS VARCHAR)),
      |      1, 1)) AS BIGINT) % 2 AS arm,
      |    sum(CASE WHEN epoch_us(CAST(ts AS TIMESTAMP)) <= b.mid
      |        THEN 1 ELSE 0 END) AS s1,
      |    CASE WHEN sum(CASE WHEN epoch_us(CAST(ts AS TIMESTAMP)) > b.mid
      |          AND event_type = 'purchase' THEN 1 ELSE 0 END) > 0
      |      THEN 1 ELSE 0 END AS conv
      |  FROM events, b
      |  WHERE ts IS NOT NULL AND user_id IS NOT NULL
      |  GROUP BY user_id, arm
      |),
      |dd AS (
      |  SELECT ntile(10) OVER (ORDER BY s1 DESC, user_id) AS decile,
      |    arm, conv
      |  FROM h WHERE s1 > 0
      |),
      |cell AS (
      |  SELECT decile,
      |    CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nt,
      |    CAST(sum(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS BIGINT)
      |      AS xt,
      |    CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS nc,
      |    CAST(sum(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS BIGINT)
      |      AS xc
      |  FROM dd GROUP BY 1
      |),
      |cum AS (
      |  SELECT decile, nt, xt, nc, xc,
      |    CAST(sum(nt) OVER (ORDER BY decile) AS BIGINT) AS cnt,
      |    CAST(sum(xt) OVER (ORDER BY decile) AS BIGINT) AS cxt,
      |    CAST(sum(nc) OVER (ORDER BY decile) AS BIGINT) AS cnc,
      |    CAST(sum(xc) OVER (ORDER BY decile) AS BIGINT) AS cxc
      |  FROM cell
      |)
      |SELECT CAST(decile AS INTEGER) AS decile, nt, xt, nc, xc,
      |  round(CAST(xt AS DOUBLE) / nullif(CAST(nt AS DOUBLE),
      |      CAST(0 AS DOUBLE))
      |    - CAST(xc AS DOUBLE) / nullif(CAST(nc AS DOUBLE),
      |      CAST(0 AS DOUBLE)), 6) AS uplift,
      |  round(CAST(cxt AS DOUBLE)
      |    - CAST(cxc AS DOUBLE) * CAST(cnt AS DOUBLE)
      |      / nullif(CAST(cnc AS DOUBLE), CAST(0 AS DOUBLE)), 6)
      |    AS qini
      |FROM cum
      |ORDER BY decile""".stripMargin,
  ) { (s, d) =>
    val ev = Tables.events(s, d)
      .filter(col("ts").isNotNull && col("user_id").isNotNull)
      .select(col("user_id"), col("event_type"),
        expr("unix_micros(ts)").as("us"))
    val b = ev.agg(expr("(min(us) + max(us)) div 2").as("mid"))
    val h = ev.crossJoin(broadcast(b))
      .groupBy(col("user_id"),
        (conv(substring(md5(concat(lit("ab|"),
          col("user_id").cast("string"))), 1, 1), 16, 10)
          .cast("long") % 2).as("arm"))
      .agg(sum(when(col("us") <= col("mid"), 1).otherwise(0)).as("s1"),
        when(sum(when(col("us") > col("mid")
            && col("event_type") === "purchase", 1).otherwise(0)) > 0, 1)
          .otherwise(0).as("conv"))
      .filter(col("s1") > 0)
      .transform(graft.operators.Iter.pin) // probe + main action (§5.7 pin rule)
    // r17: scale-parallel closed-form ntile (was a global one-task sort)
    val dd = ntilePar(h, 10, "s1", desc = true, Seq("user_id"))
      .select(col("tile").as("decile"), col("arm"), col("conv"))
    val cell = dd.groupBy(col("decile"))
      .agg(sum(when(col("arm") === 1, 1).otherwise(0)).cast("long")
          .as("nt"),
        sum(when(col("arm") === 1, col("conv")).otherwise(0)).cast("long")
          .as("xt"),
        sum(when(col("arm") === 0, 1).otherwise(0)).cast("long")
          .as("nc"),
        sum(when(col("arm") === 0, col("conv")).otherwise(0)).cast("long")
          .as("xc"))
    val wCum = Window.orderBy(col("decile"))
    val cum = cell.select(col("decile"), col("nt"), col("xt"), col("nc"),
      col("xc"),
      sum(col("nt")).over(wCum).cast("long").as("cnt"),
      sum(col("xt")).over(wCum).cast("long").as("cxt"),
      sum(col("nc")).over(wCum).cast("long").as("cnc"),
      sum(col("xc")).over(wCum).cast("long").as("cxc"))
    cum.select(col("decile").cast("int").as("decile"), col("nt"),
        col("xt"), col("nc"), col("xc"),
        round(expr("""CAST(xt AS DOUBLE) / nullif(CAST(nt AS DOUBLE),
          |    CAST(0 AS DOUBLE))
          |  - CAST(xc AS DOUBLE) / nullif(CAST(nc AS DOUBLE),
          |    CAST(0 AS DOUBLE))""".stripMargin), 6).as("uplift"),
        round(expr("""CAST(cxt AS DOUBLE)
          |  - CAST(cxc AS DOUBLE) * CAST(cnt AS DOUBLE)
          |    / nullif(CAST(cnc AS DOUBLE), CAST(0 AS DOUBLE))"""
          .stripMargin), 6).as("qini"))
      .orderBy(col("decile"))
  }

  /** CRAMÉR–VON MISES EXPONENTIALITY — the INTEGRATED companion to
    * q234's KS sup: W² = 1/(12n) + Σᵢ(F̂(g₍ᵢ₎) − (2i−1)/(2n))² weighs
    * the WHOLE CDF discrepancy where KS sees only the worst point —
    * the right test when departures are diffuse (many small deviations)
    * rather than localized. Same fitted exponential F̂ = 1 − e^(−g·n/S)
    * over the same (event_type-partitioned, gp-ranked) inter-arrival
    * gaps.
    *
    * Exactness: F̂ is the q234 float-cast-exp term (bit-identical
    * cross-engine). r19: the sum is taken at VALUE-RUN grain — over a
    * tie run [lo, hi] the Σ(F̂ − (2i−1)/(2n))² closed form rides two
    * exact integers (Σ(2i−1) and 3·Σ(2i−1)², DECIMAL(38,0)/HUGEINT, no
    * division) into one fixed-order double chain per run, quantized
    * DECIMAL(28,9) and summed associatively — the same formula text on
    * both engines, so the hash contract is unchanged while the rank
    * stage drops from row grain to distinct-gap grain (see the body
    * note: 99.9% of gaps tie on a replicated corpus). TIE-INVARIANCE is
    * now algebra, not argument: the run IS the unit. n = 0 types never
    * reach the output (no gaps, no test).
    *
    * Plan: q234's — one lag window, a per-type moment broadcast, a
    * run-grain cumulative count into a map-side-combined decimal
    * aggregate, 5-row finish.
    */
  val q257CramerVonMises = Q(
    "q257_cramer_von_mises",
    s"""WITH e AS (
      |  SELECT event_type, event_id,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS us
      |  FROM events
      |  WHERE ts IS NOT NULL AND event_type IS NOT NULL
      |),
      |gaps AS (
      |  SELECT event_type,
      |    us - lag(us) OVER (PARTITION BY event_type
      |      ORDER BY us, event_id) AS gp
      |  FROM e
      |),
      |gg AS (SELECT event_type, gp FROM gaps WHERE gp IS NOT NULL),
      |mom AS (
      |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(gp) AS BIGINT) AS sg
      |  FROM gg GROUP BY 1
      |),
      |runs AS (
      |  SELECT event_type, gp, CAST(count(*) AS BIGINT) AS cnt
      |  FROM gg GROUP BY 1, 2
      |),
      |rr AS (
      |  SELECT event_type, gp, cnt,
      |    CAST(sum(cnt) OVER (PARTITION BY event_type
      |      ORDER BY gp) AS BIGINT) AS hi
      |  FROM runs
      |),
      |rk AS (
      |  SELECT r.event_type, m.n, m.sg, r.cnt, r.hi,
      |    r.hi - r.cnt + 1 AS lo,
      |    CAST(1 AS DOUBLE)
      |      - CAST(exp(CAST(0 AS DOUBLE)
      |          - CAST(m.n AS DOUBLE) / CAST(m.sg AS DOUBLE)
      |            * CAST(r.gp AS DOUBLE)) AS FLOAT) AS ffit
      |  FROM rr r JOIN mom m ON m.event_type = r.event_type
      |),
      |w AS (
      |  SELECT event_type, n, sg,
      |    sum(CAST(
      |      CAST(cnt AS DOUBLE) * ffit * ffit
      |      - ffit * (CAST(CAST(hi AS HUGEINT) * hi
      |          - CAST(lo - 1 AS HUGEINT) * (lo - 1) AS DOUBLE)
      |        / CAST(n AS DOUBLE))
      |      + CAST(CAST(hi AS HUGEINT) * (2 * hi - 1) * (2 * hi + 1)
      |          - CAST(lo - 1 AS HUGEINT) * (2 * lo - 3) * (2 * lo - 1)
      |          AS DOUBLE)
      |        / (CAST(12 AS DOUBLE) * CAST(n AS DOUBLE)
      |           * CAST(n AS DOUBLE))
      |      AS DECIMAL(28,9))) AS w2sum
      |  FROM rk GROUP BY 1, 2, 3
      |)
      |SELECT event_type, n AS n_gaps,
      |  ${Exact.Sql.ratio6Big("sg", "n * 1000")} AS mean_gap_ms,
      |  round(CAST(1 AS DOUBLE) / CAST(12 * n AS DOUBLE)
      |    + CAST(w2sum AS DOUBLE), 6) AS cvm_w2,
      |  CASE (CAST(1 AS DOUBLE) / CAST(12 * n AS DOUBLE)
      |    + CAST(w2sum AS DOUBLE)) < 0.461
      |    WHEN true THEN 'poisson_like' WHEN false THEN 'not_poisson' END
      |    AS poisson_like
      |FROM w
      |ORDER BY event_type""".stripMargin,
  ) { (s, d) =>
    val e = Tables.events(s, d)
      .filter(col("ts").isNotNull && col("event_type").isNotNull)
      .select(col("event_type"), col("event_id"),
        expr("unix_micros(ts)").as("us"))
    // r16: scale-parallel gap stage (see OrderedBins.typeGapsCarry — the
    // per-type lag window serialized on 5 type-sized partitions at the
    // ×100 axis)
    val gaps = typeGapsCarry(e)
      .transform(graft.operators.Iter.pin) // 2 consumers: moments and the rank scan
    val mom = gaps.groupBy(col("event_type"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("gp")).cast("long").as("sg"))
    // r16→r18 this ranked EVERY gap row. r19: RUN-COLLAPSE (the q234
    // move) — 99.9% of gaps tie at one value on a replicated corpus and
    // a tie-less rank cannot sub-bin, so the row-grain rank serialized
    // ~all rows into one task at ×1000. W² is tie-invariant as a SET
    // (constant F̂ over a run × the same rank set), and over a run
    // [lo, hi] the sum Σ(F̂ − (2i−1)/(2n))² has an EXACT-INTEGER closed
    // form: Σ(2i−1) = hi² − (lo−1)², and 3·Σ(2i−1)² =
    // hi(2hi−1)(2hi+1) − (lo−1)(2lo−3)(2lo−1) — no division anywhere,
    // carried in DECIMAL(38,0)/HUGEINT (exact to n ≤ ~10¹², stated),
    // converted to DOUBLE once, then the SAME fixed-order double chain
    // on BOTH engines and the same per-run DECIMAL(18,9) quantization
    // (per-RUN quantization replaces r18's per-ROW — both engines moved
    // together, so the cross-engine hash contract is unchanged; the
    // statistic shifts only at double-rounding order, ≪ the 1e-4 suite
    // tolerance and the round(6) readout). r20 (r19 ADVICE): the
    // per-run term is bounded by ~cnt (a 99.9%-tie run reaches ~n/3),
    // NOT ≤ 1 like r18's per-row terms — DECIMAL(18,9) overflowed past
    // n ≈ 3·10⁹ gaps (silently to NULL on non-ANSI Spark while DuckDB
    // errors: a cross-engine divergence). DECIMAL(28,9) holds to
    // n < 10¹⁹ per-run and the SUM promotes to DECIMAL(38,9) in both
    // engines (safe to ~10²⁹ total, far past the 10¹² the exact-integer
    // endpoint algebra itself is stated for).
    val runs = gaps.groupBy(col("event_type"), col("gp"))
      .agg(count(lit(1)).cast("long").as("cnt"))
      .transform(graft.operators.Iter.pin) // §5.7 pin: probe + main scan (see q234)
    val ranked = prefixSumPar(runs, "gp", desc = false, Nil, Seq("cnt"),
        Seq("event_type"))
      .select(col("event_type"), col("gp"), col("cnt"),
        (col("cum_cnt") - col("cnt") + 1L).as("lo"),
        col("cum_cnt").as("hi"))
    val rk = ranked.join(mom, "event_type")
      .select(col("event_type"), col("n"), col("sg"), col("cnt"),
        col("lo"), col("hi"),
        expr("""CAST(1 AS DOUBLE)
          |  - CAST(exp(CAST(0 AS DOUBLE)
          |      - CAST(n AS DOUBLE) / CAST(sg AS DOUBLE)
          |        * CAST(gp AS DOUBLE)) AS FLOAT)""".stripMargin)
          .as("ffit"))
    val w = rk.groupBy(col("event_type"), col("n"), col("sg"))
      .agg(sum(expr(
        """CAST(
          |  CAST(cnt AS DOUBLE) * ffit * ffit
          |  - ffit * (CAST(CAST(hi AS DECIMAL(38,0)) * hi
          |      - CAST(lo - 1 AS DECIMAL(38,0)) * (lo - 1) AS DOUBLE)
          |    / CAST(n AS DOUBLE))
          |  + CAST(CAST(hi AS DECIMAL(38,0)) * (2 * hi - 1) * (2 * hi + 1)
          |      - CAST(lo - 1 AS DECIMAL(38,0)) * (2 * lo - 3) * (2 * lo - 1)
          |      AS DOUBLE)
          |    / (CAST(12 AS DOUBLE) * CAST(n AS DOUBLE)
          |       * CAST(n AS DOUBLE))
          |  AS DECIMAL(28,9))""".stripMargin)).as("w2sum"))
    val w2 = expr("""CAST(1 AS DOUBLE) / CAST(12 * n AS DOUBLE)
      |  + CAST(w2sum AS DOUBLE)""".stripMargin)
    w.select(col("event_type"), col("n").as("n_gaps"),
        Exact.ratio6Big("sg", "n * 1000").as("mean_gap_ms"), // Big: µs-gap sum ≈ span (r16 audit),
        round(w2, 6).as("cvm_w2"),
        // §5.7 nullable-boolean rule (r16): string verdict, NULL W² → NULL
        when(w2 < 0.461, lit("poisson_like"))
          .when(w2 >= 0.461, lit("not_poisson")).as("poisson_like"))
      .orderBy(col("event_type"))
  }

  /** DURBIN–WATSON — residual serial correlation AFTER the trend is
    * removed: q221's ACF tests the raw series (where a trend masquerades
    * as lag-1 correlation); DW first fits the q94-style least-squares
    * line to the daily counts and then asks whether the RESIDUALS still
    * cling (DW ≈ 2(1−ρ₁): below ~1.5 positive, above ~2.5 negative —
    * the stated dashboard thresholds). This is the regression
    * diagnostics pairing every OLS-on-time readout (q94/q209) needs.
    *
    * Exactness: the five OLS moments are exact int64 over the dense
    * grid (Σt, Σt² are triangle numbers of the span — int64-safe to
    * ~10⁶ days); slope/intercept are the q155 fixed-order chains, so
    * every residual eₜ = x − a − b·t is an identical double per row
    * cross-engine; both DW sums quantize each term to DECIMAL(18,9)
    * (e² ≤ 10⁸ at 10⁴-count days — inside the house-18 envelope) and
    * sum associatively. A perfect fit (Σe² = 0) → NULL via nullif;
    * single-day spans excluded (WHERE n > 1).
    *
    * Plan: the q235 grid, one 5-moment aggregate broadcast back, one
    * lag window over the span-bounded residual series, 5-row finish.
    */
  val q258DurbinWatson = Q(
    "q258_durbin_watson",
    """WITH e AS (
      |  SELECT event_type,
      |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day
      |  FROM events
      |  WHERE ts IS NOT NULL AND event_type IS NOT NULL
      |),
      |dc AS (SELECT event_type, day, CAST(count(*) AS BIGINT) AS cnt
      |       FROM e GROUP BY 1, 2),
      |b AS (SELECT event_type, min(day) AS d0, max(day) AS d1
      |      FROM dc GROUP BY 1),
      |grid AS (
      |  SELECT b.event_type, unnest(range(0, b.d1 - b.d0 + 1)) AS t,
      |    b.d0
      |  FROM b
      |),
      |x AS (
      |  SELECT g.event_type, g.t, COALESCE(dc.cnt, 0) AS c
      |  FROM grid g LEFT JOIN dc
      |    ON dc.event_type = g.event_type AND dc.day = g.d0 + g.t
      |),
      |mom AS (
      |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(t) AS BIGINT) AS st, CAST(sum(c) AS BIGINT) AS sx,
      |    CAST(sum(t * t) AS BIGINT) AS stt,
      |    CAST(sum(t * c) AS BIGINT) AS stx
      |  FROM x GROUP BY 1
      |),
      |fit AS (
      |  SELECT event_type, n,
      |    (CAST(n AS DOUBLE) * CAST(stx AS DOUBLE)
      |      - CAST(st AS DOUBLE) * CAST(sx AS DOUBLE))
      |      / (CAST(n AS DOUBLE) * CAST(stt AS DOUBLE)
      |        - CAST(st AS DOUBLE) * CAST(st AS DOUBLE)) AS slope,
      |    (CAST(sx AS DOUBLE) * CAST(stt AS DOUBLE)
      |      - CAST(st AS DOUBLE) * CAST(stx AS DOUBLE))
      |      / (CAST(n AS DOUBLE) * CAST(stt AS DOUBLE)
      |        - CAST(st AS DOUBLE) * CAST(st AS DOUBLE)) AS icept
      |  FROM mom WHERE n > 1
      |),
      |res AS (
      |  SELECT x.event_type, x.t, f.n, f.slope, f.icept,
      |    CAST(x.c AS DOUBLE) - f.icept
      |      - f.slope * CAST(x.t AS DOUBLE) AS ee,
      |    lag(CAST(x.c AS DOUBLE) - f.icept
      |      - f.slope * CAST(x.t AS DOUBLE))
      |      OVER (PARTITION BY x.event_type ORDER BY x.t) AS pe
      |  FROM x JOIN fit f ON f.event_type = x.event_type
      |),
      |agg AS (
      |  SELECT event_type, n, slope,
      |    sum(CAST(ee * ee AS DECIMAL(38,9))) AS sse,
      |    sum(CASE WHEN pe IS NULL THEN CAST(0 AS DECIMAL(38,9))
      |      ELSE CAST((ee - pe) * (ee - pe) AS DECIMAL(38,9)) END)
      |      AS ssd
      |  FROM res GROUP BY 1, 2, 3
      |)
      |SELECT event_type, n AS n_days, round(slope, 6) AS trend_slope,
      |  round(CAST(ssd AS DOUBLE) / nullif(CAST(sse AS DOUBLE),
      |    CAST(0 AS DOUBLE)), 6) AS dw,
      |  CASE
      |    WHEN CAST(ssd AS DOUBLE) / nullif(CAST(sse AS DOUBLE),
      |      CAST(0 AS DOUBLE)) < 1.5 THEN 'positive'
      |    WHEN CAST(ssd AS DOUBLE) / nullif(CAST(sse AS DOUBLE),
      |      CAST(0 AS DOUBLE)) > 2.5 THEN 'negative'
      |    WHEN CAST(ssd AS DOUBLE) / nullif(CAST(sse AS DOUBLE),
      |      CAST(0 AS DOUBLE)) IS NULL THEN NULL
      |    ELSE 'none' END AS residual_autocorr
      |FROM agg
      |ORDER BY event_type""".stripMargin,
  ) { (s, d) =>
    val dc = Tables.events(s, d)
      .filter(col("ts").isNotNull && col("event_type").isNotNull)
      .select(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("day"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).cast("long").as("cnt"))
    val grid = dc.groupBy(col("event_type"))
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(col("event_type").as("g_type"), col("d0"),
        explode(sequence(lit(0L), col("d1") - col("d0"))).as("t"))
    val x = grid.join(dc,
        col("g_type") === dc("event_type")
          && dc("day") === col("d0") + col("t"), "left")
      .select(col("g_type").as("event_type"), col("t"),
        coalesce(col("cnt"), lit(0L)).as("c"))
      .transform(graft.operators.Iter.pin) // 2 consumers: moments and the residual scan
    val mom = x.groupBy(col("event_type"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("t")).cast("long").as("st"),
        sum(col("c")).cast("long").as("sx"),
        sum(col("t") * col("t")).cast("long").as("stt"),
        sum(col("t") * col("c")).cast("long").as("stx"))
    val fit = mom.filter(col("n") > 1)
      .select(col("event_type").as("f_type"), col("n"),
        expr("""(CAST(n AS DOUBLE) * CAST(stx AS DOUBLE)
          |  - CAST(st AS DOUBLE) * CAST(sx AS DOUBLE))
          |  / (CAST(n AS DOUBLE) * CAST(stt AS DOUBLE)
          |    - CAST(st AS DOUBLE) * CAST(st AS DOUBLE))""".stripMargin)
          .as("slope"),
        expr("""(CAST(sx AS DOUBLE) * CAST(stt AS DOUBLE)
          |  - CAST(st AS DOUBLE) * CAST(stx AS DOUBLE))
          |  / (CAST(n AS DOUBLE) * CAST(stt AS DOUBLE)
          |    - CAST(st AS DOUBLE) * CAST(st AS DOUBLE))""".stripMargin)
          .as("icept"))
    val ee = expr("CAST(c AS DOUBLE) - icept - slope * CAST(t AS DOUBLE)")
    val res = x.join(fit, col("f_type") === col("event_type"))
      .select(col("event_type"), col("t"), col("n"), col("slope"),
        ee.as("ee"),
        lag(ee, 1).over(Window.partitionBy(col("event_type"))
          .orderBy(col("t"))).as("pe"))
    val agg = res.groupBy(col("event_type"), col("n"), col("slope"))
      // DECIMAL(38,9): the r18 timeburst axis measured ee^2 ~ 8e11 on a
      // one-day burst (90% of events in one day -> residuals ~ the day
      // count), overflowing (18,9)'s 1e9 integer range; same 9-digit
      // quantization, wider headroom (1e29 -- a 100 TB day fits), value-
      // identical where (18,9) didn't overflow, DuckDB twin widened too
      .agg(sum(expr("CAST(ee * ee AS DECIMAL(38,9))")).as("sse"),
        sum(expr("""CASE WHEN pe IS NULL THEN CAST(0 AS DECIMAL(38,9))
          |ELSE CAST((ee - pe) * (ee - pe) AS DECIMAL(38,9)) END"""
          .stripMargin)).as("ssd"))
    val dw = expr("""CAST(ssd AS DOUBLE) / nullif(CAST(sse AS DOUBLE),
      |  CAST(0 AS DOUBLE))""".stripMargin)
    agg.select(col("event_type"), col("n").as("n_days"),
        round(col("slope"), 6).as("trend_slope"),
        round(dw, 6).as("dw"),
        when(dw < 1.5, "positive").when(dw > 2.5, "negative")
          .when(dw.isNull, lit(null)).otherwise("none")
          .as("residual_autocorr"))
      .orderBy(col("event_type"))
  }

  /** FRIEDMAN TEST — the within-block rank ANOVA: each calendar day is a
    * BLOCK, the event types are TREATMENTS ranked within the day by
    * count, and Q = 3·ΣR₂ⱼ²/(nk(k+1)) − 3n(k+1) asks whether any type
    * systematically out-ranks the others once day-level volume is
    * blocked away — the nonparametric two-way companion to q245's
    * one-way Kruskal–Wallis (which ignores the day blocking entirely).
    *
    * Exactness: midranks stay INTEGER by carrying 2× the rank —
    * r₂ = 2(rank−1) + ties + 1 from two window counts (no float .5s
    * anywhere); R₂ⱼ = Σ r₂ and ΣR₂ⱼ² are exact int64 (R₂ ≤ 2kn — safe
    * to 10⁸ blocks), so Q is a two-term fixed-order chain of exact-int
    * ratios. The tie CORRECTION factor is deliberately omitted (the
    * uncorrected statistic, stated — conservative under ties). Blocks
    * are the SHARED global day grid (q249's device) so every treatment
    * appears in every block, zero-filled. The 0.05 verdict is a literal
    * χ²₍ₖ₋₁₎ lookup for k ∈ 2..6; larger ensembles → NULL verdict
    * (stated — no erf in either engine).
    *
    * Plan: one (type, day) aggregate, a bounded k-per-day rank window,
    * a k-row finish via the q197 window-total idiom. Scan-dominated.
    */
  val q259Friedman = Q(
    "q259_friedman",
    s"""WITH e AS (
      |  SELECT event_type,
      |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day
      |  FROM events
      |  WHERE ts IS NOT NULL AND event_type IS NOT NULL
      |),
      |dc AS (SELECT event_type, day, CAST(count(*) AS BIGINT) AS cnt
      |       FROM e GROUP BY 1, 2),
      |b AS (SELECT min(day) AS d0, max(day) AS d1 FROM e),
      |ty AS (SELECT DISTINCT event_type FROM e),
      |grid AS (
      |  SELECT ty.event_type, b.d0 + unnest(range(0, b.d1 - b.d0 + 1))
      |    AS day
      |  FROM ty CROSS JOIN b
      |),
      |x AS (
      |  SELECT g.event_type, g.day, COALESCE(dc.cnt, 0) AS c
      |  FROM grid g LEFT JOIN dc
      |    ON dc.event_type = g.event_type AND dc.day = g.day
      |),
      |rk AS (
      |  SELECT event_type, day,
      |    2 * (rank() OVER (PARTITION BY day ORDER BY c) - 1)
      |      + count(*) OVER (PARTITION BY day, c) + 1 AS r2
      |  FROM x
      |),
      |rj AS (
      |  SELECT event_type, CAST(sum(r2) AS BIGINT) AS r2j,
      |    CAST(count(*) AS BIGINT) AS n
      |  FROM rk GROUP BY 1
      |),
      |tot AS (
      |  SELECT event_type, r2j, n,
      |    CAST(count(*) OVER () AS BIGINT) AS k,
      |    CAST(sum(r2j * r2j) OVER () AS BIGINT) AS sr2
      |  FROM rj
      |),
      |f AS (
      |  SELECT event_type, r2j, n, k,
      |    CAST(3 AS DOUBLE) * CAST(sr2 AS DOUBLE)
      |        / CAST(n * k * (k + 1) AS DOUBLE)
      |      - CAST(3 * n * (k + 1) AS DOUBLE) AS q
      |  FROM tot
      |)
      |SELECT event_type, n AS n_blocks,
      |  ${Exact.Sql.ratio6("r2j", "2 * n")} AS mean_rank,
      |  round(q, 6) AS friedman_q,
      |  CAST(k - 1 AS BIGINT) AS df,
      |  CASE (CASE WHEN k = 2 THEN q > 3.8415 WHEN k = 3 THEN q > 5.9915
      |       WHEN k = 4 THEN q > 7.8147 WHEN k = 5 THEN q > 9.4877
      |       WHEN k = 6 THEN q > 11.0705 ELSE NULL END)
      |    WHEN true THEN 'significant' WHEN false THEN 'ns' END
      |    AS signif_05
      |FROM f
      |ORDER BY event_type""".stripMargin,
  ) { (s, d) =>
    val e = Tables.events(s, d)
      .filter(col("ts").isNotNull && col("event_type").isNotNull)
      .select(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("day"))
    val dc = e.groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).cast("long").as("cnt"))
    val b = e.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    val ty = e.select(col("event_type")).distinct()
    val grid = ty.crossJoin(broadcast(b))
      .select(col("event_type").as("g_type"),
        explode(sequence(col("d0"), col("d1"))).as("day"))
    val x = grid.join(dc,
        col("g_type") === dc("event_type") && dc("day") === grid("day"),
        "left")
      .select(col("g_type").as("event_type"), grid("day"),
        coalesce(col("cnt"), lit(0L)).as("c"))
    val rk = x.select(col("event_type"),
      (lit(2) * (rank().over(Window.partitionBy(col("day"))
          .orderBy(col("c"))) - 1)
        + count(lit(1)).over(Window.partitionBy(col("day"), col("c")))
        + 1).as("r2"))
    val rj = rk.groupBy(col("event_type"))
      .agg(sum(col("r2")).cast("long").as("r2j"),
        count(lit(1)).cast("long").as("n"))
    val wAll = Window.partitionBy()
    val tot = rj.select(col("event_type"), col("r2j"), col("n"),
      count(lit(1)).over(wAll).cast("long").as("k"),
      sum(col("r2j") * col("r2j")).over(wAll).cast("long").as("sr2"))
    val q = expr("""CAST(3 AS DOUBLE) * CAST(sr2 AS DOUBLE)
      |    / CAST(n * k * (k + 1) AS DOUBLE)
      |  - CAST(3 * n * (k + 1) AS DOUBLE)""".stripMargin)
    tot.select(col("event_type"), col("n").as("n_blocks"),
        Exact.ratio6("r2j", "2 * n").as("mean_rank"),
        round(q, 6).as("friedman_q"),
        (col("k") - 1).cast("long").as("df"),
        {
          // §5.7 nullable-boolean rule (r16): string verdict — k > 6 (no
          // χ² literal) and the degenerate NULL q both yield NULL string
          val flag = when(col("k") === 2, q > 3.8415)
            .when(col("k") === 3, q > 5.9915)
            .when(col("k") === 4, q > 7.8147)
            .when(col("k") === 5, q > 9.4877)
            .when(col("k") === 6, q > 11.0705)
            .otherwise(lit(null))
          when(flag === true, lit("significant"))
            .when(flag === false, lit("ns")).as("signif_05")
        })
      .orderBy(col("event_type"))
  }

  /** ANSARI–BRADLEY — do the two arms differ in SPREAD? q162's Welch
    * compares means and q263-family tests compare variances through
    * moments; Ansari–Bradley is the RANK test for dispersion: score
    * every value by its distance from the ends, sᵢ = min(i, N+1−i)
    * (small at the extremes, large in the middle), and an arm that
    * concentrates in the middle collects a significantly LARGE score
    * sum — robust to the heavy tails that wreck moment-based F-tests.
    *
    * Exactness: values rank as exact int64 cents under the (cents,
    * event_id) deterministic total order (the stated tie device — the
    * classical midrank variant is replaced by a reproducible total
    * order, same convention as q213/q234); W, E and Var use the exact
    * even/odd-N closed forms as fixed-order double chains over exact
    * int64 FACTORS multiplied in DOUBLE (the N⁴-scale products overflow
    * int64 past N ≈ 6·10⁴ — sf0.1 already does — so each factor casts
    * exactly and the product rounds deterministically, identical
    * parenthesization both engines; the W rank-sum itself stays exact
    * int64, ≤ N²/4); single-arm corpora → NULL via nullif(Var). χ²₁ verdict at
    * the 3.8415 literal.
    *
    * Plan: the rank and N come from
    * [[graft.operators.OrderedBins.rankPar]] over (cents, event_id): past
    * its row threshold, quantile value bins with a cross-bin prefix over
    * the bin frame and an in-bin rank partitioned by bin — NO
    * partition-free N-row sort at scale (the oracle keeps the flat window
    * DuckDB can afford at fixture scale) — and N summed off the same bin
    * frame, not an all-to-one count window. Then a 2-row arm aggregate
    * and the window-total finish.
    */
  val q260AnsariBradley = Q(
    "q260_ansari_bradley",
    s"""WITH v AS (
      |  SELECT event_id,
      |    CAST(round(100 * value) AS BIGINT) AS cents,
      |    CAST(('0x' || substr(md5('ab|' || CAST(user_id AS VARCHAR)),
      |      1, 1)) AS BIGINT) % 2 AS arm
      |  FROM events
      |  WHERE value IS NOT NULL AND user_id IS NOT NULL
      |),
      |rk AS (
      |  SELECT arm,
      |    CAST(row_number() OVER (ORDER BY cents, event_id) AS BIGINT)
      |      AS i,
      |    CAST(count(*) OVER () AS BIGINT) AS nn
      |  FROM v
      |),
      |sc AS (
      |  SELECT arm, nn,
      |    CAST(sum(CASE WHEN i <= nn + 1 - i THEN i ELSE nn + 1 - i END)
      |      AS BIGINT) AS w,
      |    CAST(count(*) AS BIGINT) AS na
      |  FROM rk GROUP BY 1, 2
      |),
      |f AS (
      |  SELECT arm, na, nn, w,
      |    CASE WHEN nn % 2 = 0 THEN
      |      CAST(na AS DOUBLE) * CAST(nn + 2 AS DOUBLE)
      |        / CAST(4 AS DOUBLE)
      |    ELSE
      |      CAST(na AS DOUBLE) * CAST(nn + 1 AS DOUBLE)
      |        * CAST(nn + 1 AS DOUBLE)
      |        / (CAST(4 AS DOUBLE) * CAST(nn AS DOUBLE))
      |    END AS ew,
      |    CASE WHEN nn % 2 = 0 THEN
      |      CAST(na AS DOUBLE) * CAST(nn - na AS DOUBLE)
      |        * CAST(nn + 2 AS DOUBLE) * CAST(nn - 2 AS DOUBLE)
      |        / (CAST(48 AS DOUBLE) * CAST(nn - 1 AS DOUBLE))
      |    ELSE
      |      CAST(na AS DOUBLE) * CAST(nn - na AS DOUBLE)
      |        * CAST(nn + 1 AS DOUBLE)
      |        * (CAST(3 AS DOUBLE) + CAST(nn AS DOUBLE)
      |          * CAST(nn AS DOUBLE))
      |        / CAST(48 AS DOUBLE)
      |        / (CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE))
      |    END AS vw
      |  FROM sc
      |)
      |SELECT arm, na AS n_arm, w AS ab_score,
      |  round(ew, 6) AS expected_score,
      |  round((CAST(w AS DOUBLE) - ew) * (CAST(w AS DOUBLE) - ew)
      |    / nullif(vw, CAST(0 AS DOUBLE)), 6) AS z2,
      |  CASE WHEN (CAST(w AS DOUBLE) - ew) * (CAST(w AS DOUBLE) - ew)
      |      / nullif(vw, CAST(0 AS DOUBLE)) IS NULL THEN NULL
      |    WHEN (CAST(w AS DOUBLE) - ew) * (CAST(w AS DOUBLE) - ew)
      |      / nullif(vw, CAST(0 AS DOUBLE)) > 3.8415 THEN 'differs'
      |    ELSE 'same' END AS dispersion_differs
      |FROM f
      |ORDER BY arm""".stripMargin,
  ) { (s, d) =>
    val v = Tables.events(s, d)
      .filter(col("value").isNotNull && col("user_id").isNotNull)
      .select(col("event_id"),
        expr("CAST(round(100 * value) AS BIGINT)").as("cents"),
        (conv(substring(md5(concat(lit("ab|"),
          col("user_id").cast("string"))), 1, 1), 16, 10)
          .cast("long") % 2).as("arm"))
    val rk = rankPar(v, "cents", desc = false, Seq("event_id"))
      .select(col("arm"), col("i"), col("nd").as("nn"))
    val sc = rk.groupBy(col("arm"), col("nn"))
      .agg(sum(when(col("i") <= col("nn") + 1 - col("i"), col("i"))
          .otherwise(col("nn") + 1 - col("i"))).cast("long").as("w"),
        count(lit(1)).cast("long").as("na"))
    val ew = expr("""CASE WHEN nn % 2 = 0 THEN
      |  CAST(na AS DOUBLE) * CAST(nn + 2 AS DOUBLE)
      |    / CAST(4 AS DOUBLE)
      |ELSE
      |  CAST(na AS DOUBLE) * CAST(nn + 1 AS DOUBLE)
      |    * CAST(nn + 1 AS DOUBLE)
      |    / (CAST(4 AS DOUBLE) * CAST(nn AS DOUBLE))
      |END""".stripMargin)
    val vw = expr("""CASE WHEN nn % 2 = 0 THEN
      |  CAST(na AS DOUBLE) * CAST(nn - na AS DOUBLE)
      |    * CAST(nn + 2 AS DOUBLE) * CAST(nn - 2 AS DOUBLE)
      |    / (CAST(48 AS DOUBLE) * CAST(nn - 1 AS DOUBLE))
      |ELSE
      |  CAST(na AS DOUBLE) * CAST(nn - na AS DOUBLE)
      |    * CAST(nn + 1 AS DOUBLE)
      |    * (CAST(3 AS DOUBLE) + CAST(nn AS DOUBLE)
      |      * CAST(nn AS DOUBLE))
      |    / CAST(48 AS DOUBLE)
      |    / (CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE))
      |END""".stripMargin)
    val z2 = (col("w").cast("double") - ew) * (col("w").cast("double") - ew) /
      nullif(vw, lit(0.0))
    sc.select(col("arm"), col("na").as("n_arm"), col("w").as("ab_score"),
        round(ew, 6).as("expected_score"),
        round(z2, 6).as("z2"),
        // string verdict, not boolean — nullable BOOLEAN breaks the
        // driver compare (§5.7, the q287 device)
        when(z2.isNull, lit(null).cast("string"))
          .when(z2 > 3.8415, lit("differs"))
          .otherwise(lit("same")).as("dispersion_differs"))
      .orderBy(col("arm"))
  }

  /** HURST EXPONENT via RESCALED RANGE — long-range dependence, the
    * property none of the lag-local tests (q221 ACF, q226 runs, q258
    * DW) can see: partition the hourly series into blocks of m ∈
    * {8,16,32,64}, compute each block's rescaled range R/S, and fit
    * ln(mean R/S) against ln m — slope H ≈ 0.5 for memoryless series,
    * > 0.5 for persistent (self-similar bursty traffic — Hurst's
    * phenomenon), < 0.5 for mean-reverting.
    *
    * Exactness: the whole block interior is INTEGER — multiplying the
    * cumulative deviation through by m gives C_k = m·P_k − k·S exact
    * int64 (P_k the prefix sum; the m's cancel by algebra so no float
    * mean ever materializes), and R/S = (maxC − minC)/√(mQ − S²) is
    * exact ints into ONE IEEE sqrt and ONE divide. Zero-variance
    * blocks are EXCLUDED (nothing to rescale by — stated; a kept block
    * always has maxC > minC, proven in the suite). Per-block values
    * quantize to DECIMAL(18,9) for the associative per-size mean; both
    * log axes ride the house float-cast ln; the ≤4-point OLS moments
    * quantize each product to DECIMAL(18,9). Fewer than 2 usable sizes
    * → NULL H. Trailing partial blocks are dropped (full blocks only,
    * stated).
    *
    * Plan: the q193 dense hourly grid, one prefix-sum window per
    * (size, block), a per-(type, m) mean, a ≤4-row fit via the q197
    * window idiom. The 4 sizes scan the grid once each — constant
    * factor, linear in calendar span.
    */
  val q261HurstRs = Q(
    "q261_hurst_rs",
    """WITH e AS (
      |  SELECT event_type,
      |    epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS m
      |  FROM events
      |  WHERE ts IS NOT NULL AND event_type IS NOT NULL
      |),
      |mc AS (SELECT event_type, m, count(*) AS cnt FROM e GROUP BY 1, 2),
      |b AS (SELECT event_type, min(m) AS m0, max(m) AS m1
      |      FROM mc GROUP BY 1),
      |grid AS (
      |  SELECT b.event_type, b.m0,
      |    unnest(range(0, b.m1 - b.m0 + 1)) AS t
      |  FROM b
      |),
      |x AS (
      |  SELECT g.event_type, g.t,
      |    CAST(COALESCE(mc.cnt, 0) AS BIGINT) AS x
      |  FROM grid g LEFT JOIN mc
      |    ON mc.event_type = g.event_type AND mc.m = g.m0 + g.t
      |),
      |sp AS (SELECT event_type, CAST(count(*) AS BIGINT) AS span
      |       FROM x GROUP BY 1),
      |sz AS (SELECT unnest([8, 16, 32, 64]) AS bm),
      |blk AS (
      |  SELECT x.event_type, sz.bm, x.t // sz.bm AS bid,
      |    x.t % sz.bm AS k, x.x,
      |    CAST(sum(x.x) OVER (PARTITION BY x.event_type, sz.bm,
      |      x.t // sz.bm ORDER BY x.t) AS BIGINT) AS p
      |  FROM x JOIN sp ON sp.event_type = x.event_type
      |  CROSS JOIN sz
      |  WHERE x.t < sp.span // sz.bm * sz.bm
      |),
      |tot AS (
      |  SELECT event_type, bm, bid, CAST(sum(x) AS BIGINT) AS s,
      |    CAST(sum(x * x) AS BIGINT) AS q
      |  FROM blk GROUP BY 1, 2, 3
      |),
      |cdev AS (
      |  SELECT blk.event_type, blk.bm, blk.bid, t.s, t.q,
      |    CAST(max(blk.bm * blk.p - (blk.k + 1) * t.s) AS BIGINT)
      |      AS cmax,
      |    CAST(min(blk.bm * blk.p - (blk.k + 1) * t.s) AS BIGINT)
      |      AS cmin
      |  FROM blk JOIN tot t ON t.event_type = blk.event_type
      |    AND t.bm = blk.bm AND t.bid = blk.bid
      |  GROUP BY 1, 2, 3, 4, 5
      |),
      |rs AS (
      |  SELECT event_type, bm,
      |    CAST(cmax - cmin AS DOUBLE)
      |      / sqrt(CAST(bm * q - s * s AS DOUBLE)) AS rsv
      |  FROM cdev WHERE bm * q - s * s > 0
      |),
      |ms AS (
      |  SELECT event_type, bm, CAST(count(*) AS BIGINT) AS nb,
      |    sum(CAST(rsv AS DECIMAL(18,9))) AS srs
      |  FROM rs GROUP BY 1, 2
      |),
      |pt AS (
      |  SELECT event_type, bm, nb,
      |    CAST(srs AS DOUBLE) / CAST(nb AS DOUBLE) AS mean_rs,
      |    CAST(CAST(ln(CAST(bm AS DOUBLE)) AS FLOAT) AS DOUBLE) AS lx,
      |    CAST(CAST(ln(CAST(srs AS DOUBLE) / CAST(nb AS DOUBLE))
      |      AS FLOAT) AS DOUBLE) AS lm
      |  FROM ms WHERE CAST(srs AS DOUBLE) > 0
      |),
      |fit AS (
      |  SELECT event_type, bm, nb, mean_rs,
      |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS np,
      |    CAST(sum(CAST(lx AS DECIMAL(18,9)))
      |      OVER (PARTITION BY event_type) AS DOUBLE) AS sx,
      |    CAST(sum(CAST(lm AS DECIMAL(18,9)))
      |      OVER (PARTITION BY event_type) AS DOUBLE) AS sy,
      |    CAST(sum(CAST(lx * lx AS DECIMAL(18,9)))
      |      OVER (PARTITION BY event_type) AS DOUBLE) AS sxx,
      |    CAST(sum(CAST(lx * lm AS DECIMAL(18,9)))
      |      OVER (PARTITION BY event_type) AS DOUBLE) AS sxy
      |  FROM pt
      |)
      |SELECT event_type, CAST(bm AS BIGINT) AS block_size,
      |  nb AS n_blocks, round(mean_rs, 6) AS mean_rs,
      |  CASE WHEN np >= 2 THEN
      |    round((CAST(np AS DOUBLE) * sxy - sx * sy)
      |      / nullif(CAST(np AS DOUBLE) * sxx - sx * sx,
      |        CAST(0 AS DOUBLE)), 6)
      |  ELSE NULL END AS hurst
      |FROM fit
      |ORDER BY event_type, block_size""".stripMargin,
  ) { (s, d) =>
    val mc = Tables.events(s, d)
      .filter(col("ts").isNotNull && col("event_type").isNotNull)
      .select(col("event_type"),
        expr("unix_micros(ts) div 3600000000").as("m"))
      .groupBy(col("event_type"), col("m"))
      .agg(count(lit(1)).as("cnt"))
    val grid = mc.groupBy(col("event_type"))
      .agg(min(col("m")).as("m0"), max(col("m")).as("m1"))
      .select(col("event_type").as("g_type"), col("m0"),
        explode(sequence(lit(0L), col("m1") - col("m0"))).as("t"))
    val x = grid.join(mc,
        col("g_type") === mc("event_type") && mc("m") === col("m0") + col("t"),
        "left")
      .select(col("g_type").as("event_type"), col("t"),
        coalesce(col("cnt"), lit(0L)).cast("long").as("x"))
      .transform(graft.operators.Iter.pin) // 2 consumers: span counts and the block scan
    val sp = x.groupBy(col("event_type"))
      .agg(count(lit(1)).cast("long").as("span"))
      .withColumnRenamed("event_type", "s_type")
    val blk = x.join(sp, col("s_type") === col("event_type"))
      .select(col("event_type"), col("t"), col("x"), col("span"),
        explode(array(lit(8), lit(16), lit(32), lit(64))).as("bm"))
      .filter(col("t") < expr("span div bm * bm"))
      .select(col("event_type"), col("bm"),
        expr("t div bm").as("bid"), expr("t % bm").as("k"), col("x"),
        col("t"))
      .withColumn("p",
        sum(col("x")).over(Window
          .partitionBy(col("event_type"), col("bm"), col("bid"))
          .orderBy(col("t"))).cast("long"))
      .transform(graft.operators.Iter.pin) // 2 consumers: block totals and the dev scan
    val tot = blk.groupBy(col("event_type").as("t_type"),
        col("bm").as("t_bm"), col("bid").as("t_bid"))
      .agg(sum(col("x")).cast("long").as("s"),
        sum(col("x") * col("x")).cast("long").as("q"))
    val cdev = blk.join(tot,
        col("t_type") === col("event_type") && col("t_bm") === col("bm")
          && col("t_bid") === col("bid"))
      .groupBy(col("event_type"), col("bm"), col("bid"), col("s"),
        col("q"))
      .agg(max(expr("bm * p - (k + 1) * s")).cast("long").as("cmax"),
        min(expr("bm * p - (k + 1) * s")).cast("long").as("cmin"))
    val rs = cdev.filter(expr("bm * q - s * s > 0"))
      .select(col("event_type"), col("bm"),
        expr("""CAST(cmax - cmin AS DOUBLE)
          |  / sqrt(CAST(bm * q - s * s AS DOUBLE))""".stripMargin)
          .as("rsv"))
    val ms = rs.groupBy(col("event_type"), col("bm"))
      .agg(count(lit(1)).cast("long").as("nb"),
        sum(expr("CAST(rsv AS DECIMAL(18,9))")).as("srs"))
    val pt = ms.filter(expr("CAST(srs AS DOUBLE) > 0"))
      .select(col("event_type"), col("bm"), col("nb"),
        expr("CAST(srs AS DOUBLE) / CAST(nb AS DOUBLE)").as("mean_rs"),
        expr("CAST(CAST(ln(CAST(bm AS DOUBLE)) AS FLOAT) AS DOUBLE)")
          .as("lx"),
        expr("""CAST(CAST(ln(CAST(srs AS DOUBLE) / CAST(nb AS DOUBLE))
          |  AS FLOAT) AS DOUBLE)""".stripMargin).as("lm"))
    val wT = Window.partitionBy(col("event_type"))
    val fit = pt.select(col("event_type"), col("bm"), col("nb"),
      col("mean_rs"),
      count(lit(1)).over(wT).cast("long").as("np"),
      sum(expr("CAST(lx AS DECIMAL(18,9))")).over(wT).cast("double")
        .as("sx"),
      sum(expr("CAST(lm AS DECIMAL(18,9))")).over(wT).cast("double")
        .as("sy"),
      sum(expr("CAST(lx * lx AS DECIMAL(18,9))")).over(wT).cast("double")
        .as("sxx"),
      sum(expr("CAST(lx * lm AS DECIMAL(18,9))")).over(wT).cast("double")
        .as("sxy"))
    fit.select(col("event_type"), col("bm").cast("long").as("block_size"),
        col("nb").as("n_blocks"), round(col("mean_rs"), 6).as("mean_rs"),
        when(col("np") >= 2,
          round(expr("""(CAST(np AS DOUBLE) * sxy - sx * sy)
            |  / nullif(CAST(np AS DOUBLE) * sxx - sx * sx,
            |    CAST(0 AS DOUBLE))""".stripMargin), 6))
          .otherwise(lit(null)).as("hurst"))
      .orderBy(col("event_type"), col("block_size"))
  }
  /** CROSTON'S METHOD — the forecast for INTERMITTENT demand, where
    * q193/q203/q244's smoothers fail structurally (EWMA of a mostly-zero
    * series chases zeros): smooth the NONZERO demand sizes and the
    * inter-demand day gaps separately (α = 0.2 each), forecast per-day
    * demand = ŝ_z/ŝ_q. This is the standard spare-parts/long-tail-SKU
    * estimator — here per event type over 'purchase'-like sparse daily
    * series (any type works; sparse ones are the point).
    *
    * Exactness: both smoothers are the q193 ZERO-SEEDED closed form
    * Σ α(1−α)^(M−i)·v_i — each term's float-cast pow × exact int64 v
    * casts to DECIMAL(18,9) and sums associatively. The Spark side
    * truncates lags > 160 while the ORACLE IS UNTRUNCATED: 0.2·0.8^160 ≈
    * 6·10⁻¹⁷ keeps every dropped term under the 0.5e-9 HALF_UP cast
    * quantum for v ≤ 8·10⁶ (PRECONDITION, stated — daily counts and
    * day gaps clear it by orders), so truncated ≡ full bit-for-bit —
    * the q193 standing losslessness proof, fourth instance. Gaps start
    * at the SECOND demand point (the first has no predecessor — stated);
    * M < 2 → NULL forecast (no gap estimate).
    *
    * Plan: one (type, day) aggregate, a per-type demand-point window
    * (row_number + lag), two map-side-combined decimal sums, 5-row
    * finish. Linear in demand points, not calendar span.
    */
  val q262Croston = Q(
    "q262_croston",
    s"""WITH dc AS (
      |  SELECT event_type,
      |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
      |    CAST(count(*) AS BIGINT) AS z
      |  FROM events
      |  WHERE ts IS NOT NULL AND event_type IS NOT NULL
      |  GROUP BY 1, 2
      |),
      |pt AS (
      |  SELECT event_type, day, z,
      |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY day)
      |      AS BIGINT) AS i,
      |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS mm,
      |    day - lag(day) OVER (PARTITION BY event_type ORDER BY day)
      |      AS gap
      |  FROM dc
      |),
      |sm AS (
      |  SELECT event_type, max(mm) AS mm,
      |    CAST(sum(CAST(CAST(0.2 AS DOUBLE)
      |      * CAST(pow(0.8, mm - i) AS FLOAT)
      |      * CAST(z AS DOUBLE) AS DECIMAL(18,9))) AS DOUBLE) AS sz,
      |    CAST(sum(CASE WHEN gap IS NULL THEN CAST(0 AS DECIMAL(18,9))
      |      ELSE CAST(CAST(0.2 AS DOUBLE)
      |        * CAST(pow(0.8, mm - i) AS FLOAT)
      |        * CAST(gap AS DOUBLE) AS DECIMAL(18,9)) END) AS DOUBLE)
      |      AS sq,
      |    CAST(sum(z) AS BIGINT) AS tz
      |  FROM pt GROUP BY 1
      |)
      |SELECT event_type, mm AS n_demand_points, tz AS total_demand,
      |  round(sz, 6) AS smoothed_size,
      |  round(sq, 6) AS smoothed_gap,
      |  CASE WHEN mm >= 2 THEN
      |    round(sz / nullif(sq, CAST(0 AS DOUBLE)), 6)
      |  ELSE NULL END AS croston_forecast
      |FROM sm
      |ORDER BY event_type""".stripMargin,
  ) { (s, d) =>
    val dc = Tables.events(s, d)
      .filter(col("ts").isNotNull && col("event_type").isNotNull)
      .select(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("day"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).cast("long").as("z"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val pt = dc.select(col("event_type"), col("day"), col("z"),
      row_number().over(w).cast("long").as("i"),
      count(lit(1)).over(Window.partitionBy(col("event_type")))
        .cast("long").as("mm"),
      (col("day") - lag(col("day"), 1).over(w)).as("gap"))
      // truncate lags past 160: every dropped term is below the
      // DECIMAL(18,9) cast quantum for v ≤ 8e6 (scaladoc bound) — the
      // oracle stays untruncated and the hash match proves losslessness
      .filter(col("mm") - col("i") <= 160)
    val sm = pt.groupBy(col("event_type"))
      .agg(max(col("mm")).as("mm"),
        sum(expr("""CAST(CAST(0.2 AS DOUBLE)
          |  * CAST(pow(0.8, mm - i) AS FLOAT)
          |  * CAST(z AS DOUBLE) AS DECIMAL(18,9))""".stripMargin))
          .cast("double").as("sz"),
        sum(expr("""CASE WHEN gap IS NULL THEN CAST(0 AS DECIMAL(18,9))
          |ELSE CAST(CAST(0.2 AS DOUBLE)
          |  * CAST(pow(0.8, mm - i) AS FLOAT)
          |  * CAST(gap AS DOUBLE) AS DECIMAL(18,9)) END""".stripMargin))
          .cast("double").as("sq"),
        sum(col("z")).cast("long").as("tz"))
    sm.select(col("event_type"), col("mm").as("n_demand_points"),
        col("tz").as("total_demand"),
        round(col("sz"), 6).as("smoothed_size"),
        round(col("sq"), 6).as("smoothed_gap"),
        when(col("mm") >= 2,
          round(col("sz") / nullif(col("sq"), lit(0.0)), 6))
          .otherwise(lit(null)).as("croston_forecast"))
      .orderBy(col("event_type"))
  }

  /** BROWN–FORSYTHE — variance homogeneity across groups, the
    * assumption q248's ANOVA quietly makes: one-way ANOVA on the
    * absolute deviations from each group's MEDIAN (Levene's test with
    * the median center — the robust variant that survives the heavy
    * tails that wreck the F-test on raw squares). Flags which event
    * types have genuinely different day-to-day volatility rather than
    * different levels.
    *
    * Exactness: the median stays INTEGER by carrying 2× it — m₂ =
    * x₍n/2₎ + x₍n/2+1₎ (even) or 2·x₍(n+1)/2₎ (odd) from the value-
    * ranked grid (any tie order yields the same order statistics), so
    * every deviation z = |2c − m₂| is exact int64 at 2× scale (the
    * factor cancels in F). Group moments S/Q are exact int64; each
    * group's S²/n term casts DECIMAL(28,9) (un-normalized SS clears
    * the house-18 envelope — q249's width) and cross-group sums ride
    * the q197 window idiom. k ≤ 1, N ≤ k, or SSW ≤ 0 → NULL F; the p
    * is deliberately not reported (df (k−1, N−k) has no closed-form
    * tail — the q248 stance).
    *
    * Plan: the q235 per-type grid, one rank window per type, a k-row
    * moment table with window totals. Scan-dominated.
    */
  val q263BrownForsythe = Q(
    "q263_brown_forsythe",
    s"""WITH e AS (
      |  SELECT event_type,
      |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day
      |  FROM events
      |  WHERE ts IS NOT NULL AND event_type IS NOT NULL
      |),
      |dc AS (SELECT event_type, day, CAST(count(*) AS BIGINT) AS cnt
      |       FROM e GROUP BY 1, 2),
      |b AS (SELECT event_type, min(day) AS d0, max(day) AS d1
      |      FROM dc GROUP BY 1),
      |grid AS (
      |  SELECT b.event_type, unnest(range(0, b.d1 - b.d0 + 1)) AS t,
      |    b.d0
      |  FROM b
      |),
      |x AS (
      |  SELECT g.event_type, COALESCE(dc.cnt, 0) AS c
      |  FROM grid g LEFT JOIN dc
      |    ON dc.event_type = g.event_type AND dc.day = g.d0 + g.t
      |),
      |rk AS (
      |  SELECT event_type, c,
      |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY c)
      |      AS BIGINT) AS i,
      |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
      |  FROM x
      |),
      |med AS (
      |  SELECT event_type, max(n) AS n,
      |    CAST(CASE WHEN max(n) % 2 = 0 THEN
      |      sum(CASE WHEN i = n // 2 OR i = n // 2 + 1 THEN c ELSE 0
      |        END)
      |    ELSE 2 * sum(CASE WHEN i = (n + 1) // 2 THEN c ELSE 0 END)
      |    END AS BIGINT) AS m2
      |  FROM rk GROUP BY 1
      |),
      |z AS (
      |  SELECT rk.event_type, med.n, med.m2,
      |    abs(2 * rk.c - med.m2) AS zz
      |  FROM rk JOIN med ON med.event_type = rk.event_type
      |),
      |mom AS (
      |  SELECT event_type, max(n) AS n, max(m2) AS m2,
      |    CAST(sum(zz) AS BIGINT) AS s,
      |    CAST(sum(zz * zz) AS BIGINT) AS q
      |  FROM z GROUP BY 1
      |),
      |tot AS (
      |  SELECT event_type, n, m2, s, q,
      |    CAST(count(*) OVER () AS BIGINT) AS k,
      |    CAST(sum(n) OVER () AS BIGINT) AS nn,
      |    CAST(sum(s) OVER () AS BIGINT) AS g,
      |    CAST(sum(CAST(CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
      |      / CAST(n AS DOUBLE) AS DECIMAL(28,9))) OVER () AS DOUBLE)
      |      AS ssn,
      |    CAST(sum(q) OVER () AS BIGINT) AS qq
      |  FROM mom
      |),
      |f AS (
      |  SELECT event_type, n, m2, s, k, nn,
      |    ssn - CAST(g AS DOUBLE) * CAST(g AS DOUBLE)
      |      / CAST(nn AS DOUBLE) AS ssb,
      |    CAST(qq AS DOUBLE) - ssn AS ssw
      |  FROM tot
      |)
      |SELECT event_type, n AS n_days,
      |  ${Exact.Sql.ratio6("m2", "2")} AS median_count,
      |  ${Exact.Sql.ratio6("s", "2 * n")} AS mean_absdev,
      |  CASE WHEN k > 1 AND nn > k AND ssw > 0 THEN
      |    round((ssb / CAST(k - 1 AS DOUBLE))
      |      / (ssw / CAST(nn - k AS DOUBLE)), 6)
      |  ELSE NULL END AS bf_f
      |FROM f
      |ORDER BY event_type""".stripMargin,
  ) { (s, d) =>
    val dc = Tables.events(s, d)
      .filter(col("ts").isNotNull && col("event_type").isNotNull)
      .select(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("day"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).cast("long").as("cnt"))
    val grid = dc.groupBy(col("event_type"))
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(col("event_type").as("g_type"), col("d0"),
        explode(sequence(lit(0L), col("d1") - col("d0"))).as("t"))
    val x = grid.join(dc,
        col("g_type") === dc("event_type")
          && dc("day") === col("d0") + col("t"), "left")
      .select(col("g_type").as("event_type"),
        coalesce(col("cnt"), lit(0L)).as("c"))
    val rk = x.select(col("event_type"), col("c"),
        row_number().over(Window.partitionBy(col("event_type"))
          .orderBy(col("c"))).cast("long").as("i"),
        count(lit(1)).over(Window.partitionBy(col("event_type")))
          .cast("long").as("n"))
      .transform(graft.operators.Iter.pin) // 2 consumers: the median probe and the devs
    val med = rk.groupBy(col("event_type").as("m_type"))
      .agg(max(col("n")).as("n_med"),
        expr("""CAST(CASE WHEN max(n) % 2 = 0 THEN
          |  sum(CASE WHEN i = n div 2 OR i = n div 2 + 1 THEN c ELSE 0
          |    END)
          |ELSE 2 * sum(CASE WHEN i = (n + 1) div 2 THEN c ELSE 0 END)
          |END AS BIGINT)""".stripMargin).as("m2"))
    val mom = rk.join(med, col("m_type") === col("event_type"))
      .select(col("event_type"), col("n_med").as("n"), col("m2"),
        abs(lit(2) * col("c") - col("m2")).as("zz"))
      .groupBy(col("event_type"), col("n"), col("m2"))
      .agg(sum(col("zz")).cast("long").as("s"),
        sum(col("zz") * col("zz")).cast("long").as("q"))
    val wAll = Window.partitionBy()
    val tot = mom.select(col("event_type"), col("n"), col("m2"), col("s"),
      count(lit(1)).over(wAll).cast("long").as("k"),
      sum(col("n")).over(wAll).cast("long").as("nn"),
      sum(col("s")).over(wAll).cast("long").as("g"),
      sum(expr("""CAST(CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
        |  / CAST(n AS DOUBLE) AS DECIMAL(28,9))""".stripMargin))
        .over(wAll).cast("double").as("ssn"),
      sum(col("q")).over(wAll).cast("long").as("qq"))
    val f = tot.select(col("event_type"), col("n"), col("m2"), col("s"),
      col("k"), col("nn"),
      (col("ssn") - expr("""CAST(g AS DOUBLE) * CAST(g AS DOUBLE)
        |  / CAST(nn AS DOUBLE)""".stripMargin)).as("ssb"),
      (expr("CAST(qq AS DOUBLE)") - col("ssn")).as("ssw"))
    f.select(col("event_type"), col("n").as("n_days"),
        Exact.ratio6("m2", "2").as("median_count"),
        Exact.ratio6("s", "2 * n").as("mean_absdev"),
        when(col("k") > 1 && col("nn") > col("k") && col("ssw") > 0,
          round(expr("""(ssb / CAST(k - 1 AS DOUBLE))
            |  / (ssw / CAST(nn - k AS DOUBLE))""".stripMargin), 6))
          .otherwise(lit(null)).as("bf_f"))
      .orderBy(col("event_type"))
  }

  /** PARTIAL AUTOCORRELATION (Durbin–Levinson, lags 1–3) — the
    * AR-order selector q221's raw ACF cannot be: an AR(1) process has
    * ACF decaying at EVERY lag but PACF cutting to zero after lag 1,
    * so the last significant φ_kk IS the model order (the Box–Jenkins
    * identification step). φ₁₁ = ρ₁; φ₂₂ = (ρ₂ − ρ₁²)/(1 − ρ₁²);
    * φ₃₃ = (ρ₃ − φ₂₁ρ₂ − φ₂₂ρ₁)/(1 − φ₂₁ρ₁ − φ₂₂ρ₂) with
    * φ₂₁ = ρ₁(1 − φ₂₂).
    *
    * Exactness: ρ₁..ρ₃ are q221's exact-int64-numerator autocorrelations
    * (n²·p_k − n·s·(h_k+t_k) + (n−k)·s², ONE divide each) — identical
    * doubles cross-engine — and the Durbin–Levinson recursion is a
    * fixed-order chain over them with nullif guards on both
    * denominators (a unit-root ρ₁ = ±1 NULLs φ₂₂ and everything after,
    * stated). n ≤ 3 excluded. The suggested AR order compares |φ_kk|
    * against the 1.96/√n band, deepest significant lag wins.
    *
    * Plan: q221's — dense grid, one 3-lag window, a per-type moment
    * aggregate, 5-row finish.
    */
  val q264Pacf = Q(
    "q264_pacf",
    """WITH e AS (
      |  SELECT event_type,
      |    epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS m
      |  FROM events
      |  WHERE ts IS NOT NULL AND event_type IS NOT NULL
      |),
      |mc AS (SELECT event_type, m, count(*) AS cnt FROM e GROUP BY 1, 2),
      |b AS (SELECT event_type, min(m) AS m0, max(m) AS m1
      |      FROM mc GROUP BY 1),
      |grid AS (
      |  SELECT b.event_type, b.m0,
      |    unnest(range(0, b.m1 - b.m0 + 1)) AS t
      |  FROM b
      |),
      |x AS (
      |  SELECT g.event_type, g.t, COALESCE(mc.cnt, 0) AS x
      |  FROM grid g LEFT JOIN mc
      |    ON mc.event_type = g.event_type AND mc.m = g.m0 + g.t
      |),
      |lagd AS (
      |  SELECT event_type, t, x,
      |    lag(x, 1) OVER (PARTITION BY event_type ORDER BY t) AS x1,
      |    lag(x, 2) OVER (PARTITION BY event_type ORDER BY t) AS x2,
      |    lag(x, 3) OVER (PARTITION BY event_type ORDER BY t) AS x3
      |  FROM x
      |),
      |agg AS (
      |  SELECT event_type,
      |    CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(x) AS BIGINT) AS s,
      |    CAST(sum(x * x) AS BIGINT) AS q,
      |    CAST(sum(CASE WHEN x1 IS NULL THEN 0 ELSE x * x1 END)
      |      AS BIGINT) AS p1,
      |    CAST(sum(CASE WHEN x1 IS NULL THEN 0 ELSE x END) AS BIGINT)
      |      AS h1,
      |    CAST(sum(CASE WHEN x1 IS NULL THEN 0 ELSE x1 END) AS BIGINT)
      |      AS t1,
      |    CAST(sum(CASE WHEN x2 IS NULL THEN 0 ELSE x * x2 END)
      |      AS BIGINT) AS p2,
      |    CAST(sum(CASE WHEN x2 IS NULL THEN 0 ELSE x END) AS BIGINT)
      |      AS h2,
      |    CAST(sum(CASE WHEN x2 IS NULL THEN 0 ELSE x2 END) AS BIGINT)
      |      AS t2,
      |    CAST(sum(CASE WHEN x3 IS NULL THEN 0 ELSE x * x3 END)
      |      AS BIGINT) AS p3,
      |    CAST(sum(CASE WHEN x3 IS NULL THEN 0 ELSE x END) AS BIGINT)
      |      AS h3,
      |    CAST(sum(CASE WHEN x3 IS NULL THEN 0 ELSE x3 END) AS BIGINT)
      |      AS t3
      |  FROM lagd GROUP BY 1
      |),
      |rho AS (
      |  SELECT event_type, n,
      |    CAST(n * n * p1 - n * s * (h1 + t1) + (n - 1) * s * s
      |      AS DOUBLE)
      |      / nullif(CAST(n * n * q - n * s * s AS DOUBLE),
      |          CAST(0 AS DOUBLE)) AS r1,
      |    CAST(n * n * p2 - n * s * (h2 + t2) + (n - 2) * s * s
      |      AS DOUBLE)
      |      / nullif(CAST(n * n * q - n * s * s AS DOUBLE),
      |          CAST(0 AS DOUBLE)) AS r2,
      |    CAST(n * n * p3 - n * s * (h3 + t3) + (n - 3) * s * s
      |      AS DOUBLE)
      |      / nullif(CAST(n * n * q - n * s * s AS DOUBLE),
      |          CAST(0 AS DOUBLE)) AS r3
      |  FROM agg WHERE n > 3
      |),
      |dl AS (
      |  SELECT event_type, n, r1, r2, r3,
      |    (r2 - r1 * r1)
      |      / nullif(CAST(1 AS DOUBLE) - r1 * r1, CAST(0 AS DOUBLE))
      |      AS f22
      |  FROM rho
      |),
      |dl2 AS (
      |  SELECT event_type, n, r1, r2, r3, f22,
      |    r1 * (CAST(1 AS DOUBLE) - f22) AS f21
      |  FROM dl
      |),
      |dl3 AS (
      |  SELECT event_type, n, r1, f22,
      |    (r3 - f21 * r2 - f22 * r1)
      |      / nullif(CAST(1 AS DOUBLE) - f21 * r1 - f22 * r2,
      |          CAST(0 AS DOUBLE)) AS f33
      |  FROM dl2
      |)
      |SELECT event_type, n AS span,
      |  round(r1, 6) AS pacf1,
      |  round(f22, 6) AS pacf2,
      |  round(f33, 6) AS pacf3,
      |  CASE
      |    WHEN f33 IS NOT NULL
      |      AND abs(f33) > CAST(1.96 AS DOUBLE)
      |        / sqrt(CAST(n AS DOUBLE)) THEN 3
      |    WHEN f22 IS NOT NULL
      |      AND abs(f22) > CAST(1.96 AS DOUBLE)
      |        / sqrt(CAST(n AS DOUBLE)) THEN 2
      |    WHEN r1 IS NOT NULL
      |      AND abs(r1) > CAST(1.96 AS DOUBLE)
      |        / sqrt(CAST(n AS DOUBLE)) THEN 1
      |    ELSE 0 END AS ar_order
      |FROM dl3
      |ORDER BY event_type""".stripMargin,
  ) { (s, d) =>
    val mc = Tables.events(s, d)
      .filter(col("ts").isNotNull && col("event_type").isNotNull)
      .select(col("event_type"),
        expr("unix_micros(ts) div 3600000000").as("m"))
      .groupBy(col("event_type"), col("m"))
      .agg(count(lit(1)).as("cnt"))
    val grid = mc.groupBy(col("event_type"))
      .agg(min(col("m")).as("m0"), max(col("m")).as("m1"))
      .select(col("event_type").as("g_type"), col("m0"),
        explode(sequence(lit(0L), col("m1") - col("m0"))).as("t"))
    val x = grid.join(mc,
        col("g_type") === mc("event_type") && mc("m") === col("m0") + col("t"),
        "left")
      .select(col("g_type").as("event_type"), col("t"),
        coalesce(col("cnt"), lit(0L)).as("x"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("t"))
    val lagd = x.select(col("event_type"), col("x"),
      lag(col("x"), 1).over(w).as("x1"),
      lag(col("x"), 2).over(w).as("x2"),
      lag(col("x"), 3).over(w).as("x3"))
    def lsum(c: String, of: Column): Column =
      sum(when(col(c).isNull, 0L).otherwise(of)).cast("long")
    val agg = lagd.groupBy(col("event_type"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("x")).cast("long").as("s"),
        sum(col("x") * col("x")).cast("long").as("q"),
        lsum("x1", col("x") * col("x1")).as("p1"),
        lsum("x1", col("x")).as("h1"), lsum("x1", col("x1")).as("t1"),
        lsum("x2", col("x") * col("x2")).as("p2"),
        lsum("x2", col("x")).as("h2"), lsum("x2", col("x2")).as("t2"),
        lsum("x3", col("x") * col("x3")).as("p3"),
        lsum("x3", col("x")).as("h3"), lsum("x3", col("x3")).as("t3"))
    def rk(k: Int): Column = expr(
      s"""CAST(n * n * p$k - n * s * (h$k + t$k) + (n - $k) * s * s
         |  AS DOUBLE)
         |  / nullif(CAST(n * n * q - n * s * s AS DOUBLE),
         |      CAST(0 AS DOUBLE))""".stripMargin)
    val rho = agg.filter(col("n") > 3)
      .select(col("event_type"), col("n"),
        rk(1).as("r1"), rk(2).as("r2"), rk(3).as("r3"))
    val dl = rho.withColumn("f22",
      (col("r2") - col("r1") * col("r1")) /
        nullif(lit(1.0) - col("r1") * col("r1"), lit(0.0)))
    val dl2 = dl.withColumn("f21", col("r1") * (lit(1.0) - col("f22")))
    val dl3 = dl2.withColumn("f33",
      (col("r3") - col("f21") * col("r2") - col("f22") * col("r1")) /
        nullif(lit(1.0) - col("f21") * col("r1") - col("f22") * col("r2"),
          lit(0.0)))
    val band = expr("CAST(1.96 AS DOUBLE) / sqrt(CAST(n AS DOUBLE))")
    dl3.select(col("event_type"), col("n").as("span"),
        round(col("r1"), 6).as("pacf1"),
        round(col("f22"), 6).as("pacf2"),
        round(col("f33"), 6).as("pacf3"),
        when(col("f33").isNotNull && abs(col("f33")) > band, 3)
          .when(col("f22").isNotNull && abs(col("f22")) > band, 2)
          .when(col("r1").isNotNull && abs(col("r1")) > band, 1)
          .otherwise(0).as("ar_order"))
      .orderBy(col("event_type"))
  }

  /** GRUBBS' TEST — the single-outlier flag for the daily ops review:
    * G = max|x − x̄|/s over each type's zero-filled daily counts, with
    * the offending day identified. Complements q196's per-point MAD
    * z-scores (population screening) with the classical ONE-number
    * max-studentized-deviation readout and q180's CUSUM (level shifts
    * vs single spikes).
    *
    * Exactness: the deviation stays INTEGER by multiplying through by
    * n — maxdev = max|n·x − S| exact int64 with the argmax day under
    * the (|n·x − S| DESC, day) deterministic total order; G =
    * maxdev/(n·s) with s from the exact moments — one fixed-order
    * chain, ONE sqrt. Constant series (nQ = S²) → NULL via nullif;
    * n ≤ 1 excluded. The 3.0 flag is the stated three-sigma
    * convention (the exact Grubbs critical value needs a t-quantile
    * neither engine has in closed form).
    *
    * Plan: the q235 grid + one per-type moment broadcast, a 1-row-per-
    * type argmax window, 5-row finish.
    */
  val q265Grubbs = Q(
    "q265_grubbs",
    s"""WITH e AS (
      |  SELECT event_type,
      |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day
      |  FROM events
      |  WHERE ts IS NOT NULL AND event_type IS NOT NULL
      |),
      |dc AS (SELECT event_type, day, CAST(count(*) AS BIGINT) AS cnt
      |       FROM e GROUP BY 1, 2),
      |b AS (SELECT event_type, min(day) AS d0, max(day) AS d1
      |      FROM dc GROUP BY 1),
      |grid AS (
      |  SELECT b.event_type, b.d0 + unnest(range(0, b.d1 - b.d0 + 1))
      |    AS day
      |  FROM b
      |),
      |x AS (
      |  SELECT g.event_type, g.day, COALESCE(dc.cnt, 0) AS c
      |  FROM grid g LEFT JOIN dc
      |    ON dc.event_type = g.event_type AND dc.day = g.day
      |),
      |mom AS (
      |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(c) AS BIGINT) AS s,
      |    CAST(sum(c * c) AS BIGINT) AS q
      |  FROM x GROUP BY 1
      |),
      |dev AS (
      |  SELECT x.event_type, x.day, m.n, m.s, m.q,
      |    abs(m.n * x.c - m.s) AS nd,
      |    row_number() OVER (PARTITION BY x.event_type
      |      ORDER BY abs(m.n * x.c - m.s) DESC, x.day) AS rk
      |  FROM x JOIN mom m ON m.event_type = x.event_type
      |  WHERE m.n > 1
      |)
      |SELECT event_type, n AS n_days, CAST(day AS BIGINT) AS peak_day,
      |  ${Exact.Sql.ratio6("s", "n")} AS mean_count,
      |  round(CAST(nd AS DOUBLE)
      |    / nullif(CAST(n AS DOUBLE)
      |      * sqrt(CAST(n * q - s * s AS DOUBLE)
      |        / CAST(n AS DOUBLE) / CAST(n - 1 AS DOUBLE)),
      |      CAST(0 AS DOUBLE)), 6) AS grubbs_g,
      |  CASE WHEN CAST(nd AS DOUBLE)
      |      / nullif(CAST(n AS DOUBLE)
      |        * sqrt(CAST(n * q - s * s AS DOUBLE)
      |          / CAST(n AS DOUBLE) / CAST(n - 1 AS DOUBLE)),
      |        CAST(0 AS DOUBLE)) IS NULL THEN NULL
      |    WHEN CAST(nd AS DOUBLE)
      |      / nullif(CAST(n AS DOUBLE)
      |        * sqrt(CAST(n * q - s * s AS DOUBLE)
      |          / CAST(n AS DOUBLE) / CAST(n - 1 AS DOUBLE)),
      |        CAST(0 AS DOUBLE)) > 3.0 THEN 'outlier'
      |    ELSE 'clean' END AS outlier_flag
      |FROM dev WHERE rk = 1
      |ORDER BY event_type""".stripMargin,
  ) { (s, d) =>
    val dc = Tables.events(s, d)
      .filter(col("ts").isNotNull && col("event_type").isNotNull)
      .select(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("day"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).cast("long").as("cnt"))
    val grid = dc.groupBy(col("event_type"))
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(col("event_type").as("g_type"), col("d0"),
        explode(sequence(lit(0L), col("d1") - col("d0"))).as("t"))
      .select(col("g_type"), (col("d0") + col("t")).as("day"))
    val x = grid.join(dc,
        col("g_type") === dc("event_type") && dc("day") === grid("day"),
        "left")
      .select(col("g_type").as("event_type"), grid("day"),
        coalesce(col("cnt"), lit(0L)).as("c"))
      .transform(graft.operators.Iter.pin) // 2 consumers: moments and the argmax scan
    val mom = x.groupBy(col("event_type").as("m_type"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("c")).cast("long").as("s"),
        sum(col("c") * col("c")).cast("long").as("q"))
    val dev = x.join(mom, col("m_type") === col("event_type"))
      .filter(col("n") > 1)
      .select(col("event_type"), col("day"), col("n"), col("s"),
        col("q"), abs(col("n") * col("c") - col("s")).as("nd"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("event_type"))
          .orderBy(col("nd").desc, col("day"))))
      .filter(col("rk") === 1)
    val g = expr("""CAST(nd AS DOUBLE)
      |  / nullif(CAST(n AS DOUBLE)
      |    * sqrt(CAST(n * q - s * s AS DOUBLE)
      |      / CAST(n AS DOUBLE) / CAST(n - 1 AS DOUBLE)),
      |    CAST(0 AS DOUBLE))""".stripMargin)
    dev.select(col("event_type"), col("n").as("n_days"),
        col("day").cast("long").as("peak_day"),
        Exact.ratio6("s", "n").as("mean_count"),
        round(g, 6).as("grubbs_g"),
        // string verdict, not boolean — nullable BOOLEAN breaks the
        // driver compare (§5.7, the q287 device)
        when(g.isNull, lit(null).cast("string"))
          .when(g > 3.0, lit("outlier"))
          .otherwise(lit("clean")).as("outlier_flag"))
      .orderBy(col("event_type"))
  }

  /** GREENWOOD SPACINGS — are arrivals UNIFORM across the span, or do
    * they clump? Σ Dᵢ²/(Σ Dᵢ)² over consecutive inter-event spacings
    * is minimal (1/m) when spacings are equal and grows toward 1 as
    * mass concentrates in few gaps; the uniformity index G·(m+1)/2
    * reads 1 under uniform arrival, > 1 clumped — the order-statistics
    * complement to q234's distributional fit (which fixes the FAMILY
    * but not the clumping) and q246's two-moment burstiness.
    *
    * Exactness: spacings floor to WHOLE SECONDS (stated granularity —
    * µs squares overflow int64 at month spans), Dᵢ and both Σ exact
    * int64 (ΣD² ≤ span_s² needs span ≤ 3·10⁹ s ≈ 95 years); G is ONE
    * double divide of exact int64s, the index a fixed chain. The
    * denominator is (ΣD)² — self-consistent under the floor — and
    * all-same-second corpora (ΣD = 0) → NULL via nullif. m ≥ 1
    * spacings required (singleton types never reach the output).
    *
    * Plan: one lag window over (us, event_id), a per-type 3-number
    * aggregate, 5-row finish. One scan.
    */
  val q266Greenwood = Q(
    "q266_greenwood",
    s"""WITH e AS (
      |  SELECT event_type, event_id,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS us
      |  FROM events
      |  WHERE ts IS NOT NULL AND event_type IS NOT NULL
      |),
      |gaps AS (
      |  SELECT event_type,
      |    (us - lag(us) OVER (PARTITION BY event_type
      |      ORDER BY us, event_id)) // 1000000 AS ds
      |  FROM e
      |),
      |gg AS (SELECT event_type, ds FROM gaps WHERE ds IS NOT NULL),
      |mom AS (
      |  SELECT event_type, CAST(count(*) AS BIGINT) AS m,
      |    CAST(sum(ds) AS BIGINT) AS sd,
      |    CAST(sum(ds * ds) AS BIGINT) AS sq
      |  FROM gg GROUP BY 1
      |)
      |SELECT event_type, m AS n_spacings, sd AS span_s,
      |  round(CAST(sq AS DOUBLE)
      |    / nullif(CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE),
      |      CAST(0 AS DOUBLE)), 6) AS greenwood_g,
      |  round(CAST(sq AS DOUBLE)
      |      / nullif(CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE),
      |        CAST(0 AS DOUBLE))
      |    * CAST(m + 1 AS DOUBLE) / CAST(2 AS DOUBLE), 6)
      |    AS uniformity_index,
      |  CASE WHEN CAST(sq AS DOUBLE)
      |      / nullif(CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE),
      |        CAST(0 AS DOUBLE)) IS NULL THEN NULL
      |    WHEN CAST(sq AS DOUBLE)
      |        / nullif(CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE),
      |          CAST(0 AS DOUBLE))
      |      * CAST(m + 1 AS DOUBLE) / CAST(2 AS DOUBLE) > 2.0
      |      THEN 'clumped'
      |    ELSE 'uniform' END AS clumped
      |FROM mom
      |ORDER BY event_type""".stripMargin,
  ) { (s, d) =>
    val e = Tables.events(s, d)
      .filter(col("ts").isNotNull && col("event_type").isNotNull)
      .select(col("event_type"), col("event_id"),
        expr("unix_micros(ts)").as("us"))
    // r16: scale-parallel gap stage (see OrderedBins.typeGapsCarry)
    val gaps = typeGapsCarry(e)
      .select(col("event_type"), expr("gp div 1000000").as("ds"))
    val mom = gaps.groupBy(col("event_type"))
      .agg(count(lit(1)).cast("long").as("m"),
        sum(col("ds")).cast("long").as("sd"),
        sum(col("ds") * col("ds")).cast("long").as("sq"))
    val g = expr("""CAST(sq AS DOUBLE)
      |  / nullif(CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE),
      |    CAST(0 AS DOUBLE))""".stripMargin)
    val idx = g * expr("CAST(m + 1 AS DOUBLE) / CAST(2 AS DOUBLE)")
    mom.select(col("event_type"), col("m").as("n_spacings"),
        col("sd").as("span_s"),
        round(g, 6).as("greenwood_g"),
        round(idx, 6).as("uniformity_index"),
        // string verdict, not boolean — nullable BOOLEAN breaks the
        // driver compare (§5.7, the q287 device)
        when(g.isNull, lit(null).cast("string"))
          .when(idx > 2.0, lit("clumped"))
          .otherwise(lit("uniform")).as("clumped"))
      .orderBy(col("event_type"))
  }

  /** STREAKS & RECORDS — the dashboard's momentum panel: per type over
    * the zero-filled daily grid, the LONGEST run of strictly rising
    * days (consecutive rising steps — a streak of L steps spans L+1
    * days, stated) and the count of RECORD-HIGH days (strictly above
    * every prior day; day one is a record by convention). Pure
    * order-statistics — the integer complement to q231's Mann–Kendall
    * (which sums ALL pairwise signs) and q180's CUSUM (level shifts).
    *
    * Exactness: everything is integer window arithmetic — rising flags
    * from one lag, streak islands via the running sum of (1 − rising)
    * (rising rows share an island id; island length = Σ rising), records
    * against the strictly-preceding running max. No floats exist.
    *
    * Plan: the q235 grid, two passes of span-bounded windows, one
    * island aggregate, 5-row finish.
    */
  val q267StreaksRecords = Q(
    "q267_streaks_records",
    """WITH e AS (
      |  SELECT event_type,
      |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day
      |  FROM events
      |  WHERE ts IS NOT NULL AND event_type IS NOT NULL
      |),
      |dc AS (SELECT event_type, day, CAST(count(*) AS BIGINT) AS cnt
      |       FROM e GROUP BY 1, 2),
      |b AS (SELECT event_type, min(day) AS d0, max(day) AS d1
      |      FROM dc GROUP BY 1),
      |grid AS (
      |  SELECT b.event_type, b.d0,
      |    unnest(range(0, b.d1 - b.d0 + 1)) AS t
      |  FROM b
      |),
      |x AS (
      |  SELECT g.event_type, g.t, g.d0 + g.t AS day,
      |    COALESCE(dc.cnt, 0) AS c
      |  FROM grid g LEFT JOIN dc
      |    ON dc.event_type = g.event_type AND dc.day = g.d0 + g.t
      |),
      |r AS (
      |  SELECT event_type, t, day, c,
      |    CASE WHEN lag(c) OVER (PARTITION BY event_type ORDER BY t)
      |        IS NOT NULL
      |      AND c > lag(c) OVER (PARTITION BY event_type ORDER BY t)
      |      THEN 1 ELSE 0 END AS rising,
      |    CASE WHEN max(c) OVER (PARTITION BY event_type ORDER BY t
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
      |      OR c > max(c) OVER (PARTITION BY event_type ORDER BY t
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |      THEN 1 ELSE 0 END AS rec
      |  FROM x
      |),
      |s AS (
      |  SELECT event_type, day, rising, rec,
      |    CAST(sum(1 - rising) OVER (PARTITION BY event_type
      |      ORDER BY t) AS BIGINT) AS sid
      |  FROM r
      |),
      |run AS (
      |  SELECT event_type, sid, CAST(sum(rising) AS BIGINT) AS len
      |  FROM s GROUP BY 1, 2
      |),
      |agg AS (
      |  SELECT event_type, CAST(max(len) AS BIGINT) AS longest
      |  FROM run GROUP BY 1
      |),
      |recs AS (
      |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
      |    CAST(sum(rec) AS BIGINT) AS n_records,
      |    CAST(max(CASE WHEN rec = 1 THEN day END) AS BIGINT)
      |      AS last_record_day
      |  FROM s GROUP BY 1
      |)
      |SELECT recs.event_type, recs.n_days, recs.n_records,
      |  recs.last_record_day, agg.longest AS longest_rise
      |FROM recs JOIN agg ON agg.event_type = recs.event_type
      |ORDER BY recs.event_type""".stripMargin,
  ) { (s, d) =>
    val dc = Tables.events(s, d)
      .filter(col("ts").isNotNull && col("event_type").isNotNull)
      .select(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("day"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).cast("long").as("cnt"))
    val grid = dc.groupBy(col("event_type"))
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(col("event_type").as("g_type"), col("d0"),
        explode(sequence(lit(0L), col("d1") - col("d0"))).as("t"))
    val x = grid.join(dc,
        col("g_type") === dc("event_type")
          && dc("day") === col("d0") + col("t"), "left")
      .select(col("g_type").as("event_type"), col("t"),
        (col("d0") + col("t")).as("day"),
        coalesce(col("cnt"), lit(0L)).as("c"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("t"))
    val wPrev = w.rowsBetween(Window.unboundedPreceding, -1)
    val r = x.select(col("event_type"), col("t"), col("day"), col("c"),
      when(lag(col("c"), 1).over(w).isNotNull
          && col("c") > lag(col("c"), 1).over(w), 1).otherwise(0)
        .as("rising"),
      when(max(col("c")).over(wPrev).isNull
          || col("c") > max(col("c")).over(wPrev), 1).otherwise(0)
        .as("rec"))
    val sdf = r.select(col("event_type"), col("day"), col("rising"),
        col("rec"),
        sum(lit(1) - col("rising")).over(w).cast("long").as("sid"))
      .transform(graft.operators.Iter.pin) // 2 consumers: island lengths and record counts
    val agg = sdf.groupBy(col("event_type").as("a_type"), col("sid"))
      .agg(sum(col("rising")).cast("long").as("len"))
      .groupBy(col("a_type"))
      .agg(max(col("len")).cast("long").as("longest"))
    val recs = sdf.groupBy(col("event_type"))
      .agg(count(lit(1)).cast("long").as("n_days"),
        sum(col("rec")).cast("long").as("n_records"),
        max(when(col("rec") === 1, col("day"))).cast("long")
          .as("last_record_day"))
    recs.join(agg, col("a_type") === col("event_type"))
      .select(col("event_type"), col("n_days"), col("n_records"),
        col("last_record_day"), col("longest").as("longest_rise"))
      .orderBy(col("event_type"))
  }

  /** GAP-MODEL SELECTION (exponential vs Pareto LLR) — q234/q257 test
    * the exponential FIT and q212 fits a Pareto TAIL; this operator
    * runs the standard Vuong-style likelihood-ratio race BETWEEN the
    * two on the same positive-gap sample: LLR = ℓ̂_exp − ℓ̂_par with
    * both at their MLEs (λ̂ = n/S; α̂ = n/(Σln g − n·ln gmin), the
    * Hill form anchored at the observed minimum). Negative LLR reads
    * heavy-tailed inter-arrivals — retry storms, human sessions — and
    * changes which capacity model (q235) applies.
    *
    * Exactness: both log-likelihoods collapse algebraically to
    * n·ln λ̂ − n and n·ln α̂ − n − Σln g, so the ONLY aggregated float
    * is Σln g — per-row float-cast ln of an exact int cast
    * DECIMAL(18,9), associative — and D = Σln g − n·ln gmin stays in
    * EXACT decimal arithmetic (n·quantized-ln(gmin) is an exact
    * decimal product) so an all-equal-gaps corpus cancels D to
    * EXACTLY 0 and hits the NULL guard instead of a residue-sized
    * fake α (edge-pinned). λ̂'s ln is float-cast over the
    * exact-int ratio; α̂'s over an identical computed double. ZERO
    * gaps are excluded (a point mass at 0 has no ln — stated; the
    * exponential is refit on the same positive subsample so the race
    * is fair). D ≤ 0 (all gaps equal the minimum) or n < 2 → NULL
    * verdict via CASE.
    *
    * Plan: q234's lag window, one per-type decimal aggregate, a 5-row
    * fixed-order finish.
    */
  val q278GapModelLlr = Q(
    "q278_gap_model_llr",
    """WITH e AS (
      |  SELECT event_type, event_id,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS us
      |  FROM events
      |  WHERE ts IS NOT NULL AND event_type IS NOT NULL
      |),
      |gaps AS (
      |  SELECT event_type,
      |    us - lag(us) OVER (PARTITION BY event_type
      |      ORDER BY us, event_id) AS gp
      |  FROM e
      |),
      |gg AS (SELECT event_type, gp FROM gaps
      |       WHERE gp IS NOT NULL AND gp > 0),
      |mom AS (
      |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(gp) AS BIGINT) AS s,
      |    CAST(min(gp) AS BIGINT) AS gmin,
      |    sum(CAST(CAST(CAST(ln(CAST(gp AS DOUBLE)) AS FLOAT)
      |      AS DOUBLE) AS DECIMAL(18,9))) AS sld
      |  FROM gg GROUP BY 1
      |),
      |f AS (
      |  SELECT event_type, n, s, gmin, CAST(sld AS DOUBLE) AS sl,
      |    CAST(sld - CAST(n AS DECIMAL(18,0))
      |      * CAST(CAST(CAST(ln(CAST(gmin AS DOUBLE)) AS FLOAT)
      |        AS DOUBLE) AS DECIMAL(18,9)) AS DOUBLE) AS dd
      |  FROM mom WHERE n >= 2
      |),
      |g AS (
      |  SELECT event_type, n, s, gmin, sl, dd,
      |    CAST(n AS DOUBLE)
      |      * CAST(CAST(ln(CAST(n AS DOUBLE) / CAST(s AS DOUBLE))
      |        AS FLOAT) AS DOUBLE)
      |      - CAST(n AS DOUBLE) AS ll_exp,
      |    CASE WHEN dd > 0 THEN
      |      CAST(n AS DOUBLE)
      |        * CAST(CAST(ln(CAST(n AS DOUBLE) / dd) AS FLOAT)
      |          AS DOUBLE)
      |        - CAST(n AS DOUBLE) - sl
      |    ELSE NULL END AS ll_par
      |  FROM f
      |)
      |SELECT event_type, n AS n_gaps, gmin AS min_gap_us,
      |  round(ll_exp, 6) AS ll_exponential,
      |  round(ll_par, 6) AS ll_pareto,
      |  round(ll_exp - ll_par, 6) AS llr,
      |  CASE WHEN ll_par IS NULL THEN NULL
      |    WHEN ll_exp - ll_par < 0 THEN 'heavy'
      |    ELSE 'light' END AS heavy_tailed
      |FROM g
      |ORDER BY event_type""".stripMargin,
  ) { (s, d) =>
    val e = Tables.events(s, d)
      .filter(col("ts").isNotNull && col("event_type").isNotNull)
      .select(col("event_type"), col("event_id"),
        expr("unix_micros(ts)").as("us"))
    // r16: scale-parallel gap stage (see OrderedBins.typeGapsCarry)
    val gg = typeGapsCarry(e).filter(col("gp") > 0)
    val mom = gg.groupBy(col("event_type"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("gp")).cast("long").as("s"),
        min(col("gp")).cast("long").as("gmin"),
        sum(expr("""CAST(CAST(CAST(ln(CAST(gp AS DOUBLE)) AS FLOAT)
          |  AS DOUBLE) AS DECIMAL(18,9))""".stripMargin)).as("sld"))
    val f = mom.filter(col("n") >= 2)
      .withColumn("sl", col("sld").cast("double"))
      // dd stays in EXACT decimal arithmetic until the final cast, so a
      // metronome (every gap = gmin) cancels to exactly 0 — a double
      // route would leave a quantization residue and fake a Pareto fit
      .withColumn("dd", expr("""CAST(sld - CAST(n AS DECIMAL(18,0))
        |  * CAST(CAST(CAST(ln(CAST(gmin AS DOUBLE)) AS FLOAT)
        |    AS DOUBLE) AS DECIMAL(18,9)) AS DOUBLE)""".stripMargin))
    val g = f
      .withColumn("ll_exp", expr("""CAST(n AS DOUBLE)
        |  * CAST(CAST(ln(CAST(n AS DOUBLE) / CAST(s AS DOUBLE))
        |    AS FLOAT) AS DOUBLE)
        |  - CAST(n AS DOUBLE)""".stripMargin))
      .withColumn("ll_par", expr("""CASE WHEN dd > 0 THEN
        |  CAST(n AS DOUBLE)
        |    * CAST(CAST(ln(CAST(n AS DOUBLE) / dd) AS FLOAT)
        |      AS DOUBLE)
        |    - CAST(n AS DOUBLE) - sl
        |ELSE NULL END""".stripMargin))
    g.select(col("event_type"), col("n").as("n_gaps"),
        col("gmin").as("min_gap_us"),
        round(col("ll_exp"), 6).as("ll_exponential"),
        round(col("ll_par"), 6).as("ll_pareto"),
        round(col("ll_exp") - col("ll_par"), 6).as("llr"),
        // §5.7 nullable-boolean rule (r16): string verdict — the
        // metronome NULL ll_par path (the fenced class) → NULL string
        when(col("ll_par").isNull, lit(null))
          .when(col("ll_exp") - col("ll_par") < 0, lit("heavy"))
          .otherwise(lit("light"))
          .as("heavy_tailed"))
      .orderBy(col("event_type"))
  }

  /** TURNING-POINTS TEST — Kendall's randomness check by LOCAL SHAPE:
    * count the strict local extrema of the hourly series (a point
    * higher or lower than BOTH neighbors); under exchangeability
    * E[T] = 2(n−2)/3 and Var[T] = (16n−29)/90, so too few turning
    * points = momentum/trend, too many = oscillation. The third
    * member of the randomness triptych — q226 tests mean-crossing
    * RUNS, q221 tests linear correlation, this one tests curvature —
    * and each catches departures the others cannot.
    *
    * Exactness: the whole statistic collapses to EXACT integers —
    * (T − E)² = (3T − 2(n−2))²/9, so z² = 10·(3T − 2(n−2))²/(16n − 29)
    * is ONE double divide of exact int64s (bit-identical; the square
    * clears int64 to n ≈ 10⁹ hours). Flat shoulders (ties with either
    * neighbor) are NOT turning points (strict extrema, stated). n < 3
    * → excluded (no interior).
    *
    * Plan: the q193 grid, one ±1 lag window, a 5-row finish.
    */
  val q279TurningPoints = Q(
    "q279_turning_points",
    """WITH e AS (
      |  SELECT event_type,
      |    epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS m
      |  FROM events
      |  WHERE ts IS NOT NULL AND event_type IS NOT NULL
      |),
      |mc AS (SELECT event_type, m, count(*) AS cnt FROM e GROUP BY 1, 2),
      |b AS (SELECT event_type, min(m) AS m0, max(m) AS m1
      |      FROM mc GROUP BY 1),
      |grid AS (
      |  SELECT b.event_type, b.m0,
      |    unnest(range(0, b.m1 - b.m0 + 1)) AS t
      |  FROM b
      |),
      |x AS (
      |  SELECT g.event_type, g.t, COALESCE(mc.cnt, 0) AS x
      |  FROM grid g LEFT JOIN mc
      |    ON mc.event_type = g.event_type AND mc.m = g.m0 + g.t
      |),
      |lagd AS (
      |  SELECT event_type, x,
      |    lag(x) OVER (PARTITION BY event_type ORDER BY t) AS xp,
      |    lead(x) OVER (PARTITION BY event_type ORDER BY t) AS xn
      |  FROM x
      |),
      |agg AS (
      |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(CASE WHEN xp IS NOT NULL AND xn IS NOT NULL
      |      AND (x - xp) * (x - xn) > 0 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS tp
      |  FROM lagd GROUP BY 1
      |)
      |SELECT event_type, n AS span, tp AS turning_points,
      |  round(CAST(2 * (n - 2) AS DOUBLE) / CAST(3 AS DOUBLE), 6)
      |    AS expected,
      |  round(CAST(10 * (3 * tp - 2 * (n - 2))
      |      * (3 * tp - 2 * (n - 2)) AS DOUBLE)
      |    / CAST(16 * n - 29 AS DOUBLE), 6) AS z2,
      |  CASE CAST(10 * (3 * tp - 2 * (n - 2))
      |      * (3 * tp - 2 * (n - 2)) AS DOUBLE)
      |    / CAST(16 * n - 29 AS DOUBLE) > 3.8415
      |    WHEN true THEN 'non_random' WHEN false THEN 'random' END
      |    AS non_random
      |FROM agg WHERE n >= 3
      |ORDER BY event_type""".stripMargin,
  ) { (s, d) =>
    val mc = Tables.events(s, d)
      .filter(col("ts").isNotNull && col("event_type").isNotNull)
      .select(col("event_type"),
        expr("unix_micros(ts) div 3600000000").as("m"))
      .groupBy(col("event_type"), col("m"))
      .agg(count(lit(1)).as("cnt"))
    val grid = mc.groupBy(col("event_type"))
      .agg(min(col("m")).as("m0"), max(col("m")).as("m1"))
      .select(col("event_type").as("g_type"), col("m0"),
        explode(sequence(lit(0L), col("m1") - col("m0"))).as("t"))
    val x = grid.join(mc,
        col("g_type") === mc("event_type") && mc("m") === col("m0") + col("t"),
        "left")
      .select(col("g_type").as("event_type"), col("t"),
        coalesce(col("cnt"), lit(0L)).as("x"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("t"))
    val lagd = x.select(col("event_type"), col("x"),
      lag(col("x"), 1).over(w).as("xp"),
      lead(col("x"), 1).over(w).as("xn"))
    val agg = lagd.groupBy(col("event_type"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(when(col("xp").isNotNull && col("xn").isNotNull
            && (col("x") - col("xp")) * (col("x") - col("xn")) > 0, 1)
          .otherwise(0)).cast("long").as("tp"))
    val z2 = expr("""CAST(10 * (3 * tp - 2 * (n - 2))
      |    * (3 * tp - 2 * (n - 2)) AS DOUBLE)
      |  / CAST(16 * n - 29 AS DOUBLE)""".stripMargin)
    agg.filter(col("n") >= 3)
      .select(col("event_type"), col("n").as("span"),
        col("tp").as("turning_points"),
        round(expr("CAST(2 * (n - 2) AS DOUBLE) / CAST(3 AS DOUBLE)"), 6)
          .as("expected"),
        round(z2, 6).as("z2"),
        // §5.7 nullable-boolean rule (r16): string verdict, NULL z2 → NULL
        when(z2 > 3.8415, lit("non_random"))
          .when(z2 <= 3.8415, lit("random")).as("non_random"))
      .orderBy(col("event_type"))
  }

  /** BARTELS' RANK VON NEUMANN RATIO — rank-based serial dependence:
    * RVN = 12·Σ(Rₜ − Rₜ₊₁)²/(n(n² − 1)) over the daily-count ranks,
    * the nonparametric counterpart of q258's residual DW (which
    * assumes the linear model) and q221's ACF (which moment-weights
    * outlier days). E[RVN] = 2; below = positive rank persistence,
    * above = alternation — robust to the count spikes that dominate
    * the moment versions.
    *
    * Exactness: ranks under the (count, day) deterministic total
    * order are a PERMUTATION of 1..n, so the denominator is the
    * closed form n(n² − 1)/12 in exact integers (the tie device
    * replaces midranks, stated — same stance as q260); Σd² is exact
    * int64 (≤ n³ — int64-safe to n ≈ 2·10⁶ days); RVN is ONE double
    * divide and z² = (RVN − 2)²/Var with Var's n⁵-scale factors
    * multiplied per-factor in DOUBLE (the q260 route). n < 3 → NULL
    * z²; n < 2 excluded.
    *
    * Plan: the q235 grid, one rank + one lead window, a 5-row finish.
    */
  val q280BartelsRvn = Q(
    "q280_bartels_rvn",
    """WITH e AS (
      |  SELECT event_type,
      |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day
      |  FROM events
      |  WHERE ts IS NOT NULL AND event_type IS NOT NULL
      |),
      |dc AS (SELECT event_type, day, CAST(count(*) AS BIGINT) AS cnt
      |       FROM e GROUP BY 1, 2),
      |b AS (SELECT event_type, min(day) AS d0, max(day) AS d1
      |      FROM dc GROUP BY 1),
      |grid AS (
      |  SELECT b.event_type, b.d0,
      |    unnest(range(0, b.d1 - b.d0 + 1)) AS t
      |  FROM b
      |),
      |x AS (
      |  SELECT g.event_type, g.t, COALESCE(dc.cnt, 0) AS c
      |  FROM grid g LEFT JOIN dc
      |    ON dc.event_type = g.event_type AND dc.day = g.d0 + g.t
      |),
      |rk AS (
      |  SELECT event_type, t,
      |    CAST(row_number() OVER (PARTITION BY event_type
      |      ORDER BY c, t) AS BIGINT) AS r
      |  FROM x
      |),
      |sq AS (
      |  SELECT event_type, r,
      |    lead(r) OVER (PARTITION BY event_type ORDER BY t) AS rn
      |  FROM rk
      |),
      |agg AS (
      |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(CASE WHEN rn IS NULL THEN 0
      |      ELSE (r - rn) * (r - rn) END) AS BIGINT) AS sd2
      |  FROM sq GROUP BY 1
      |),
      |f AS (
      |  SELECT event_type, n, sd2,
      |    CAST(12 * sd2 AS DOUBLE)
      |      / (CAST(n AS DOUBLE)
      |        * (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
      |          - CAST(1 AS DOUBLE))) AS rvn
      |  FROM agg WHERE n >= 2
      |)
      |SELECT event_type, n AS n_days, sd2 AS sum_sq_rank_diff,
      |  round(rvn, 6) AS rvn,
      |  CASE WHEN n >= 3 THEN
      |    round((rvn - CAST(2 AS DOUBLE)) * (rvn - CAST(2 AS DOUBLE))
      |      / (CAST(4 AS DOUBLE) * CAST(n - 2 AS DOUBLE)
      |        * (CAST(5 AS DOUBLE) * CAST(n AS DOUBLE)
      |            * CAST(n AS DOUBLE)
      |          - CAST(2 AS DOUBLE) * CAST(n AS DOUBLE)
      |          - CAST(9 AS DOUBLE))
      |        / (CAST(5 AS DOUBLE) * CAST(n AS DOUBLE)
      |          * CAST(n + 1 AS DOUBLE) * CAST(n - 1 AS DOUBLE)
      |          * CAST(n - 1 AS DOUBLE))), 6)
      |  ELSE NULL END AS z2
      |FROM f
      |ORDER BY event_type""".stripMargin,
  ) { (s, d) =>
    val dc = Tables.events(s, d)
      .filter(col("ts").isNotNull && col("event_type").isNotNull)
      .select(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("day"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).cast("long").as("cnt"))
    val grid = dc.groupBy(col("event_type"))
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(col("event_type").as("g_type"), col("d0"),
        explode(sequence(lit(0L), col("d1") - col("d0"))).as("t"))
    val x = grid.join(dc,
        col("g_type") === dc("event_type")
          && dc("day") === col("d0") + col("t"), "left")
      .select(col("g_type").as("event_type"), col("t"),
        coalesce(col("cnt"), lit(0L)).as("c"))
    val wT = Window.partitionBy(col("event_type")).orderBy(col("t"))
    val rk = x.select(col("event_type"), col("t"),
      row_number().over(Window.partitionBy(col("event_type"))
        .orderBy(col("c"), col("t"))).cast("long").as("r"))
    val sq = rk.select(col("event_type"), col("r"),
      lead(col("r"), 1).over(wT).as("rn"))
    val agg = sq.groupBy(col("event_type"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(when(col("rn").isNull, 0L)
          .otherwise((col("r") - col("rn")) * (col("r") - col("rn"))))
          .cast("long").as("sd2"))
    val f = agg.filter(col("n") >= 2)
      .withColumn("rvn", expr("""CAST(12 * sd2 AS DOUBLE)
        |  / (CAST(n AS DOUBLE)
        |    * (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
        |      - CAST(1 AS DOUBLE)))""".stripMargin))
    f.select(col("event_type"), col("n").as("n_days"),
        col("sd2").as("sum_sq_rank_diff"),
        round(col("rvn"), 6).as("rvn"),
        when(col("n") >= 3,
          round(expr("""(rvn - CAST(2 AS DOUBLE))
            |    * (rvn - CAST(2 AS DOUBLE))
            |  / (CAST(4 AS DOUBLE) * CAST(n - 2 AS DOUBLE)
            |    * (CAST(5 AS DOUBLE) * CAST(n AS DOUBLE)
            |        * CAST(n AS DOUBLE)
            |      - CAST(2 AS DOUBLE) * CAST(n AS DOUBLE)
            |      - CAST(9 AS DOUBLE))
            |    / (CAST(5 AS DOUBLE) * CAST(n AS DOUBLE)
            |      * CAST(n + 1 AS DOUBLE) * CAST(n - 1 AS DOUBLE)
            |      * CAST(n - 1 AS DOUBLE)))""".stripMargin), 6))
          .otherwise(lit(null)).as("z2"))
      .orderBy(col("event_type"))
  }

  /** COOK'S DISTANCE — which single day is DRIVING the trend fit?
    * For the q94/q258 least-squares line over daily counts, the most
    * influential day by Cook's D = e²·h/(p·s²·(1 − h)²) with exact-
    * rational leverage h = 1/n + (t − t̄)²/Sₓₓ — the regression
    * diagnostics row that tells an analyst "your slope is one
    * campaign day" before they ship the trend readout. Reports the
    * argmax day, its leverage, residual, and the 4/n flag.
    *
    * Exactness: the time axis is the dense grid, so
    * Sₓₓ = n(n² − 1)/12 and (t − t̄)² = (2t − n + 1)²/4 are EXACT —
    * leverage h = (4·Sxx4 + n·(2t − n + 1)²·3)/... collapses to
    * h = 1/n + 3(2t − n + 1)²/(n(n² − 1)), one fixed chain of exact
    * int64s; residuals are the q258 device (identical doubles), SSE
    * the q258 DECIMAL-quantized sum, s² = SSE/(n − 2), and D one
    * fixed chain per row with the argmax under (D DESC, day) over
    * identical doubles. n ≤ 2 or SSE = 0 → excluded/NULL (a perfect
    * fit has no influence to diagnose — stated).
    *
    * Plan: q258's grid + moments + residual scan, one argmax window,
    * 5-row finish.
    */
  val q281CooksDistance = Q(
    "q281_cooks_distance",
    """WITH e AS (
      |  SELECT event_type,
      |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day
      |  FROM events
      |  WHERE ts IS NOT NULL AND event_type IS NOT NULL
      |),
      |dc AS (SELECT event_type, day, CAST(count(*) AS BIGINT) AS cnt
      |       FROM e GROUP BY 1, 2),
      |b AS (SELECT event_type, min(day) AS d0, max(day) AS d1
      |      FROM dc GROUP BY 1),
      |grid AS (
      |  SELECT b.event_type, b.d0,
      |    unnest(range(0, b.d1 - b.d0 + 1)) AS t
      |  FROM b
      |),
      |x AS (
      |  SELECT g.event_type, g.t, g.d0, COALESCE(dc.cnt, 0) AS c
      |  FROM grid g LEFT JOIN dc
      |    ON dc.event_type = g.event_type AND dc.day = g.d0 + g.t
      |),
      |mom AS (
      |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(t) AS BIGINT) AS st, CAST(sum(c) AS BIGINT) AS sx,
      |    CAST(sum(t * t) AS BIGINT) AS stt,
      |    CAST(sum(t * c) AS BIGINT) AS stx
      |  FROM x GROUP BY 1
      |),
      |fit AS (
      |  SELECT event_type, n,
      |    (CAST(n AS DOUBLE) * CAST(stx AS DOUBLE)
      |      - CAST(st AS DOUBLE) * CAST(sx AS DOUBLE))
      |      / (CAST(n AS DOUBLE) * CAST(stt AS DOUBLE)
      |        - CAST(st AS DOUBLE) * CAST(st AS DOUBLE)) AS slope,
      |    (CAST(sx AS DOUBLE) * CAST(stt AS DOUBLE)
      |      - CAST(st AS DOUBLE) * CAST(stx AS DOUBLE))
      |      / (CAST(n AS DOUBLE) * CAST(stt AS DOUBLE)
      |        - CAST(st AS DOUBLE) * CAST(st AS DOUBLE)) AS icept
      |  FROM mom WHERE n > 2
      |),
      |res AS (
      |  SELECT x.event_type, x.t, x.d0, f.n, f.slope, f.icept,
      |    CAST(x.c AS DOUBLE) - f.icept
      |      - f.slope * CAST(x.t AS DOUBLE) AS ee,
      |    CAST(1 AS DOUBLE) / CAST(f.n AS DOUBLE)
      |      + CAST(3 * (2 * x.t - f.n + 1) * (2 * x.t - f.n + 1)
      |          AS DOUBLE)
      |        / (CAST(f.n AS DOUBLE)
      |          * (CAST(f.n AS DOUBLE) * CAST(f.n AS DOUBLE)
      |            - CAST(1 AS DOUBLE))) AS h
      |  FROM x JOIN fit f ON f.event_type = x.event_type
      |),
      |sse AS (
      |  SELECT event_type,
      |    CAST(sum(CAST(ee * ee AS DECIMAL(38,9))) AS DOUBLE) AS sse
      |  FROM res GROUP BY 1
      |),
      |dd AS (
      |  SELECT r.event_type, r.t, r.d0, r.n, r.ee, r.h, s.sse,
      |    CASE WHEN s.sse > 0 THEN
      |      r.ee * r.ee * r.h
      |        / (CAST(2 AS DOUBLE) * (s.sse / CAST(r.n - 2 AS DOUBLE))
      |          * (CAST(1 AS DOUBLE) - r.h)
      |          * (CAST(1 AS DOUBLE) - r.h))
      |    ELSE NULL END AS cd,
      |    row_number() OVER (PARTITION BY r.event_type
      |      ORDER BY CASE WHEN s.sse > 0 THEN
      |        r.ee * r.ee * r.h
      |          / (CAST(2 AS DOUBLE)
      |            * (s.sse / CAST(r.n - 2 AS DOUBLE))
      |            * (CAST(1 AS DOUBLE) - r.h)
      |            * (CAST(1 AS DOUBLE) - r.h))
      |        ELSE NULL END DESC NULLS LAST, r.t) AS rk
      |  FROM res r JOIN sse s ON s.event_type = r.event_type
      |)
      |SELECT event_type, n AS n_days,
      |  CAST(d0 + t AS BIGINT) AS top_day,
      |  round(h, 6) AS leverage,
      |  round(ee, 6) AS residual,
      |  round(cd, 6) AS cooks_d,
      |  cd > CAST(4 AS DOUBLE) / CAST(n AS DOUBLE) AS influential
      |FROM dd WHERE rk = 1
      |ORDER BY event_type""".stripMargin,
  ) { (s, d) =>
    val dc = Tables.events(s, d)
      .filter(col("ts").isNotNull && col("event_type").isNotNull)
      .select(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("day"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).cast("long").as("cnt"))
    val grid = dc.groupBy(col("event_type"))
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(col("event_type").as("g_type"), col("d0"),
        explode(sequence(lit(0L), col("d1") - col("d0"))).as("t"))
    val x = grid.join(dc,
        col("g_type") === dc("event_type")
          && dc("day") === col("d0") + col("t"), "left")
      .select(col("g_type").as("event_type"), col("t"), col("d0"),
        coalesce(col("cnt"), lit(0L)).as("c"))
      .transform(graft.operators.Iter.pin) // 2 consumers: moments and the residual scan
    val mom = x.groupBy(col("event_type").as("m_type"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("t")).cast("long").as("st"),
        sum(col("c")).cast("long").as("sx"),
        sum(col("t") * col("t")).cast("long").as("stt"),
        sum(col("t") * col("c")).cast("long").as("stx"))
    val fit = mom.filter(col("n") > 2)
      .select(col("m_type"), col("n"),
        expr("""(CAST(n AS DOUBLE) * CAST(stx AS DOUBLE)
          |  - CAST(st AS DOUBLE) * CAST(sx AS DOUBLE))
          |  / (CAST(n AS DOUBLE) * CAST(stt AS DOUBLE)
          |    - CAST(st AS DOUBLE) * CAST(st AS DOUBLE))""".stripMargin)
          .as("slope"),
        expr("""(CAST(sx AS DOUBLE) * CAST(stt AS DOUBLE)
          |  - CAST(st AS DOUBLE) * CAST(stx AS DOUBLE))
          |  / (CAST(n AS DOUBLE) * CAST(stt AS DOUBLE)
          |    - CAST(st AS DOUBLE) * CAST(st AS DOUBLE))""".stripMargin)
          .as("icept"))
    val res = x.join(fit, col("m_type") === col("event_type"))
      .select(col("event_type"), col("t"), col("d0"), col("n"),
        expr("CAST(c AS DOUBLE) - icept - slope * CAST(t AS DOUBLE)")
          .as("ee"),
        expr("""CAST(1 AS DOUBLE) / CAST(n AS DOUBLE)
          |  + CAST(3 * (2 * t - n + 1) * (2 * t - n + 1) AS DOUBLE)
          |    / (CAST(n AS DOUBLE)
          |      * (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
          |        - CAST(1 AS DOUBLE)))""".stripMargin).as("h"))
      .transform(graft.operators.Iter.pin) // 2 consumers: SSE and the per-day D scan
    val sse = res.groupBy(col("event_type").as("s_type"))
      // DECIMAL(38,9): r18 timeburst headroom -- see the q258 note
      .agg(sum(expr("CAST(ee * ee AS DECIMAL(38,9))")).cast("double")
        .as("sse"))
    val cd = expr("""CASE WHEN sse > 0 THEN
      |  ee * ee * h
      |    / (CAST(2 AS DOUBLE) * (sse / CAST(n - 2 AS DOUBLE))
      |      * (CAST(1 AS DOUBLE) - h) * (CAST(1 AS DOUBLE) - h))
      |ELSE NULL END""".stripMargin)
    val dd = res.join(sse, col("s_type") === col("event_type"))
      .withColumn("cd", cd)
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("event_type"))
          .orderBy(col("cd").desc_nulls_last, col("t"))))
      .filter(col("rk") === 1)
    dd.select(col("event_type"), col("n").as("n_days"),
        (col("d0") + col("t")).cast("long").as("top_day"),
        round(col("h"), 6).as("leverage"),
        round(col("ee"), 6).as("residual"),
        round(col("cd"), 6).as("cooks_d"),
        (col("cd") > expr("CAST(4 AS DOUBLE) / CAST(n AS DOUBLE)"))
          .as("influential"))
      .orderBy(col("event_type"))
  }

  /** NEGATIVE-BINOMIAL FIT — when q235 flags overdispersion, WHICH
    * clumped model? The method-of-moments NB shape k̂ = μ²/(s² − μ)
    * (small k = violent clumping, k → ∞ recovers Poisson) and the
    * implied retry/burst probability p̂ = k/(k + μ) are the capacity-
    * planning parameters the q235 verdict hands off to.
    *
    * Exactness: the shape collapses to the exact-int rational
    * k̂ = S²(n−1)/(n(nQ − S² − (n−1)S)) — ONE double divide (S²(n−1) ≤
    * 10¹⁸ at 30k-count months; the q249-family DECIMAL route applies
    * past that); p̂ a fixed chain over k̂ and the exact-rational mean.
    * Underdispersed series (s² ≤ μ — the denominator ≤ 0) have NO NB
    * fit → NULL via CASE (stated); n ≤ 1 excluded.
    *
    * Plan: the q235 grid moments, 5-row finish.
    */
  val q288NegBinomialFit = Q(
    "q288_negbinomial_fit",
    s"""WITH e AS (
      |  SELECT event_type,
      |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day
      |  FROM events
      |  WHERE ts IS NOT NULL AND event_type IS NOT NULL
      |),
      |dc AS (SELECT event_type, day, CAST(count(*) AS BIGINT) AS cnt
      |       FROM e GROUP BY 1, 2),
      |b AS (SELECT event_type, min(day) AS d0, max(day) AS d1
      |      FROM dc GROUP BY 1),
      |grid AS (
      |  SELECT b.event_type, unnest(range(0, b.d1 - b.d0 + 1)) AS t,
      |    b.d0
      |  FROM b
      |),
      |x AS (
      |  SELECT g.event_type, COALESCE(dc.cnt, 0) AS c
      |  FROM grid g LEFT JOIN dc
      |    ON dc.event_type = g.event_type AND dc.day = g.d0 + g.t
      |),
      |mom AS (
      |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(c) AS BIGINT) AS s,
      |    CAST(sum(c * c) AS BIGINT) AS q
      |  FROM x GROUP BY 1
      |)
      |SELECT event_type, n AS n_days,
      |  ${Exact.Sql.ratio6("s", "n")} AS mean_count,
      |  CASE WHEN n * q - s * s - (n - 1) * s > 0 THEN
      |    round(CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
      |        * CAST(n - 1 AS DOUBLE)
      |      / (CAST(n AS DOUBLE)
      |        * CAST(n * q - s * s - (n - 1) * s AS DOUBLE)), 6)
      |  ELSE NULL END AS nb_k,
      |  CASE WHEN n * q - s * s - (n - 1) * s > 0 THEN
      |    round((CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
      |        * CAST(n - 1 AS DOUBLE)
      |      / (CAST(n AS DOUBLE)
      |        * CAST(n * q - s * s - (n - 1) * s AS DOUBLE)))
      |      / ((CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
      |          * CAST(n - 1 AS DOUBLE)
      |        / (CAST(n AS DOUBLE)
      |          * CAST(n * q - s * s - (n - 1) * s AS DOUBLE)))
      |        + CAST(s AS DOUBLE) / CAST(n AS DOUBLE)), 6)
      |  ELSE NULL END AS nb_p
      |FROM mom WHERE n > 1
      |ORDER BY event_type""".stripMargin,
  ) { (s, d) =>
    val dc = Tables.events(s, d)
      .filter(col("ts").isNotNull && col("event_type").isNotNull)
      .select(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("day"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).cast("long").as("cnt"))
    val grid = dc.groupBy(col("event_type"))
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(col("event_type").as("g_type"), col("d0"),
        explode(sequence(lit(0L), col("d1") - col("d0"))).as("t"))
    val x = grid.join(dc,
        col("g_type") === dc("event_type")
          && dc("day") === col("d0") + col("t"), "left")
      .select(col("g_type").as("event_type"),
        coalesce(col("cnt"), lit(0L)).as("c"))
    val mom = x.groupBy(col("event_type"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("c")).cast("long").as("s"),
        sum(col("c") * col("c")).cast("long").as("q"))
    val khat = expr("""CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
      |    * CAST(n - 1 AS DOUBLE)
      |  / (CAST(n AS DOUBLE)
      |    * CAST(n * q - s * s - (n - 1) * s AS DOUBLE))""".stripMargin)
    val over = expr("n * q - s * s - (n - 1) * s > 0")
    mom.filter(col("n") > 1)
      .select(col("event_type"), col("n").as("n_days"),
        Exact.ratio6("s", "n").as("mean_count"),
        when(over, round(khat, 6)).otherwise(lit(null)).as("nb_k"),
        when(over, round(khat /
          (khat + expr("CAST(s AS DOUBLE) / CAST(n AS DOUBLE)")), 6))
          .otherwise(lit(null)).as("nb_p"))
      .orderBy(col("event_type"))
  }

  /** ORDER-2 CONDITIONAL ENTROPY — how much MEMORY do behavior
    * sequences carry beyond one step? q239 measures H(next | prev);
    * this operator measures H(next | prev2, prev1) on the SAME
    * 2-history sample and reports the gain H₁ − H₂ — exactly the
    * number that decides whether a Markov-1 model (q120/q239) is
    * enough or sequences need longer context. Conditioning on the
    * same joint sample cannot increase entropy, so gain ≥ 0 is a
    * structural invariant (suite-asserted).
    *
    * Exactness: q239's term discipline verbatim — each
    * (c/rn)·ln(rn/c) term is double × float-cast-ln cast
    * DECIMAL(18,9) (the multiply-by-double-first form that widens
    * before the decimal cast, §5.7), all counts exact int64, both
    * entropies and the gain fixed-order finishes. Users shorter than
    * 3 events contribute no trigram (stated). The (ts, event_id)
    * total order sequences events.
    *
    * Plan: two lag windows, a ≤|types|³ transition table, bounded
    * finishes — the q239 shape one order deeper.
    */
  val q289Order2Entropy = Q(
    "q289_order2_entropy",
    """WITH seq AS (
      |  SELECT user_id, event_type,
      |    lag(event_type, 1) OVER (PARTITION BY user_id
      |      ORDER BY CAST(ts AS TIMESTAMP), event_id) AS p1,
      |    lag(event_type, 2) OVER (PARTITION BY user_id
      |      ORDER BY CAST(ts AS TIMESTAMP), event_id) AS p2
      |  FROM events
      |  WHERE user_id IS NOT NULL AND event_type IS NOT NULL
      |),
      |t3 AS (
      |  SELECT p2, p1, event_type AS nx, CAST(count(*) AS BIGINT) AS c
      |  FROM seq WHERE p2 IS NOT NULL
      |  GROUP BY 1, 2, 3
      |),
      |pre2 AS (
      |  SELECT p2, p1, CAST(sum(c) AS BIGINT) AS rn FROM t3
      |  GROUP BY 1, 2
      |),
      |t2 AS (
      |  SELECT p1, nx, CAST(sum(c) AS BIGINT) AS c FROM t3
      |  GROUP BY 1, 2
      |),
      |pre1 AS (
      |  SELECT p1, CAST(sum(c) AS BIGINT) AS rn FROM t2 GROUP BY 1
      |),
      |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM t3),
      |h2c AS (
      |  SELECT t3.p2, t3.p1,
      |    sum(CAST(CAST(t3.c AS DOUBLE) / CAST(r.rn AS DOUBLE)
      |      * CAST(ln(CAST(r.rn AS DOUBLE) / CAST(t3.c AS DOUBLE))
      |        AS FLOAT) AS DECIMAL(18,9))) AS h_state
      |  FROM t3 JOIN pre2 r ON r.p2 = t3.p2 AND r.p1 = t3.p1
      |  GROUP BY 1, 2
      |),
      |h2 AS (
      |  SELECT sum(CAST(CAST(r.rn AS DOUBLE) / CAST(tot.n AS DOUBLE)
      |    * CAST(h.h_state AS DOUBLE) AS DECIMAL(18,9))) AS h_cond2
      |  FROM pre2 r JOIN h2c h ON h.p2 = r.p2 AND h.p1 = r.p1
      |  CROSS JOIN tot
      |),
      |h1c AS (
      |  SELECT t2.p1,
      |    sum(CAST(CAST(t2.c AS DOUBLE) / CAST(r.rn AS DOUBLE)
      |      * CAST(ln(CAST(r.rn AS DOUBLE) / CAST(t2.c AS DOUBLE))
      |        AS FLOAT) AS DECIMAL(18,9))) AS h_state
      |  FROM t2 JOIN pre1 r ON r.p1 = t2.p1
      |  GROUP BY 1
      |),
      |h1 AS (
      |  SELECT sum(CAST(CAST(r.rn AS DOUBLE) / CAST(tot.n AS DOUBLE)
      |    * CAST(h.h_state AS DOUBLE) AS DECIMAL(18,9))) AS h_cond1
      |  FROM pre1 r JOIN h1c h ON h.p1 = r.p1
      |  CROSS JOIN tot
      |)
      |SELECT r.p2 AS prev2, r.p1 AS prev1, r.rn AS n_from,
      |  round(CAST(h.h_state AS DOUBLE), 6) AS h_given_state,
      |  round(CAST(h1.h_cond1 AS DOUBLE), 6) AS h_order1,
      |  round(CAST(h2.h_cond2 AS DOUBLE), 6) AS h_order2,
      |  round(CAST(h1.h_cond1 AS DOUBLE)
      |    - CAST(h2.h_cond2 AS DOUBLE), 6) AS memory_gain
      |FROM pre2 r
      |JOIN h2c h ON h.p2 = r.p2 AND h.p1 = r.p1
      |CROSS JOIN h1 CROSS JOIN h2
      |ORDER BY prev2, prev1""".stripMargin,
  ) { (s, d) =>
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").cast("timestamp"), col("event_id"))
    val seq0 = Tables.events(s, d)
      .filter(col("user_id").isNotNull && col("event_type").isNotNull)
      .select(col("event_type").as("nx"),
        lag(col("event_type"), 1).over(w).as("p1"),
        lag(col("event_type"), 2).over(w).as("p2"))
      .filter(col("p2").isNotNull)
    val t3 = seq0.groupBy(col("p2"), col("p1"), col("nx"))
      .agg(count(lit(1)).cast("long").as("c"))
      .transform(graft.operators.Iter.pin) // 3 consumers: pre2, the t2 collapse, terms
    val pre2 = t3.groupBy(col("p2").as("r_p2"), col("p1").as("r_p1"))
      .agg(sum(col("c")).cast("long").as("rn"))
    val t2 = t3.groupBy(col("p1"), col("nx"))
      .agg(sum(col("c")).cast("long").as("c"))
    val pre1 = t2.groupBy(col("p1").as("s_p1"))
      .agg(sum(col("c")).cast("long").as("rn1"))
    val tot = t3.agg(sum(col("c")).cast("long").as("n"))
    def hterm(c: String, rn: String): String =
      s"""CAST(CAST($c AS DOUBLE) / CAST($rn AS DOUBLE)
         |  * CAST(ln(CAST($rn AS DOUBLE) / CAST($c AS DOUBLE))
         |    AS FLOAT) AS DECIMAL(18,9))""".stripMargin
    val h2c = t3.join(pre2,
        col("r_p2") === col("p2") && col("r_p1") === col("p1"))
      .groupBy(col("p2"), col("p1"), col("rn"))
      .agg(sum(expr(hterm("c", "rn"))).as("h_state"))
    val h2 = h2c.crossJoin(broadcast(tot))
      .agg(sum(expr("""CAST(CAST(rn AS DOUBLE) / CAST(n AS DOUBLE)
        |  * CAST(h_state AS DOUBLE) AS DECIMAL(18,9))""".stripMargin))
        .as("h_cond2"))
    val h1c = t2.join(pre1, col("s_p1") === col("p1"))
      .groupBy(col("p1"), col("rn1"))
      .agg(sum(expr(hterm("c", "rn1"))).as("h_state1"))
    val h1 = h1c.crossJoin(broadcast(tot))
      .agg(sum(expr("""CAST(CAST(rn1 AS DOUBLE) / CAST(n AS DOUBLE)
        |  * CAST(h_state1 AS DOUBLE) AS DECIMAL(18,9))""".stripMargin))
        .as("h_cond1"))
    h2c.crossJoin(broadcast(h1)).crossJoin(broadcast(h2))
      .select(col("p2").as("prev2"), col("p1").as("prev1"),
        col("rn").as("n_from"),
        round(col("h_state").cast("double"), 6).as("h_given_state"),
        round(col("h_cond1").cast("double"), 6).as("h_order1"),
        round(col("h_cond2").cast("double"), 6).as("h_order2"),
        round(col("h_cond1").cast("double")
          - col("h_cond2").cast("double"), 6).as("memory_gain"))
      .orderBy(col("prev2"), col("prev1"))
  }

  /** SEASONAL MANN–KENDALL — q231's monotone-trend test made immune to
    * DAILY periodicity (Hirsch–Slack): compare hourly counts only
    * against the SAME hour-of-day on other days (24 independent MK
    * statistics, summed), so a diurnal cycle contributes exactly zero
    * signal and only the cross-day drift survives. The standard
    * hydrology/ops seasonal trend test.
    *
    * Exactness: S = Σ_h Σ_{d<d'} sign(x_{h,d'} − x_{h,d}) is pure
    * integer pair counting off the dense grid; Var = Σ_h
    * n_h(n_h−1)(2n_h+5)/18 an exact-int ratio per season (tie
    * correction deliberately omitted — conservative, stated, the q259
    * stance); z² = S²·18²... computed as (S²)/(ΣVar) with both sides
    * exact-int-derived doubles. |S| ≤ 1 pairs → NULL. The day-pair
    * fan is (days²/2)·24 per type — calendar-bounded, never
    * row-proportional (the q208/q209 shape).
    *
    * Plan: grid → (type, hod, day) cells → hod-blocked day-pair equi
    * join → 5-row finish.
    */
  val q290SeasonalMannKendall = Q(
    "q290_seasonal_mann_kendall",
    """WITH e AS (
      |  SELECT event_type,
      |    epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS m
      |  FROM events
      |  WHERE ts IS NOT NULL AND event_type IS NOT NULL
      |),
      |mc AS (SELECT event_type, m, count(*) AS cnt FROM e GROUP BY 1, 2),
      |b AS (SELECT event_type, min(m) AS m0, max(m) AS m1
      |      FROM mc GROUP BY 1),
      |grid AS (
      |  SELECT b.event_type, b.m0,
      |    unnest(range(0, b.m1 - b.m0 + 1)) AS t
      |  FROM b
      |),
      |x AS (
      |  SELECT g.event_type, (g.m0 + g.t) % 24 AS hod,
      |    (g.m0 + g.t) // 24 AS day,
      |    CAST(COALESCE(mc.cnt, 0) AS BIGINT) AS x
      |  FROM grid g LEFT JOIN mc
      |    ON mc.event_type = g.event_type AND mc.m = g.m0 + g.t
      |),
      |pr AS (
      |  SELECT a.event_type,
      |    CAST(sum(CASE WHEN b.x > a.x THEN 1
      |      WHEN b.x < a.x THEN -1 ELSE 0 END) AS BIGINT) AS s
      |  FROM x a JOIN x b ON b.event_type = a.event_type
      |    AND b.hod = a.hod AND b.day > a.day
      |  GROUP BY 1
      |),
      |vs AS (
      |  SELECT event_type,
      |    CAST(sum(CAST(nh * (nh - 1) * (2 * nh + 5) AS DOUBLE)
      |      / CAST(18 AS DOUBLE)) AS DOUBLE) AS var_s
      |  FROM (
      |    SELECT event_type, hod, CAST(count(*) AS BIGINT) AS nh
      |    FROM x GROUP BY 1, 2
      |  ) z
      |  GROUP BY 1
      |)
      |SELECT pr.event_type, pr.s AS mk_s,
      |  round(vs.var_s, 6) AS var_s,
      |  CASE WHEN vs.var_s > 0 THEN
      |    round(CAST(pr.s AS DOUBLE) * CAST(pr.s AS DOUBLE)
      |      / vs.var_s, 6)
      |  ELSE NULL END AS z2,
      |  CASE WHEN vs.var_s > 0 THEN
      |    CAST(pr.s AS DOUBLE) * CAST(pr.s AS DOUBLE) / vs.var_s
      |      > 3.8415
      |  ELSE NULL END IS NOT DISTINCT FROM TRUE AS seasonal_trend
      |FROM pr JOIN vs ON vs.event_type = pr.event_type
      |ORDER BY pr.event_type""".stripMargin,
  ) { (s, d) =>
    val mc = Tables.events(s, d)
      .filter(col("ts").isNotNull && col("event_type").isNotNull)
      .select(col("event_type"),
        expr("unix_micros(ts) div 3600000000").as("m"))
      .groupBy(col("event_type"), col("m"))
      .agg(count(lit(1)).as("cnt"))
    val grid = mc.groupBy(col("event_type"))
      .agg(min(col("m")).as("m0"), max(col("m")).as("m1"))
      .select(col("event_type").as("g_type"), col("m0"),
        explode(sequence(lit(0L), col("m1") - col("m0"))).as("t"))
    val x = grid.join(mc,
        col("g_type") === mc("event_type") && mc("m") === col("m0") + col("t"),
        "left")
      .select(col("g_type").as("event_type"),
        expr("(m0 + t) % 24").as("hod"),
        expr("(m0 + t) div 24").as("day"),
        coalesce(col("cnt"), lit(0L)).cast("long").as("x"))
      .transform(graft.operators.Iter.pin) // 3 consumers: both pair sides and the seasons
    val pr = x.join(x.select(col("event_type").as("b_type"),
          col("hod").as("b_hod"), col("day").as("b_day"),
          col("x").as("b_x")),
        col("b_type") === col("event_type") && col("b_hod") === col("hod")
          && col("b_day") > col("day"))
      .groupBy(col("event_type"))
      .agg(sum(when(col("b_x") > col("x"), 1)
          .when(col("b_x") < col("x"), -1).otherwise(0)).cast("long")
        .as("s"))
    val vs = x.groupBy(col("event_type").as("v_type"), col("hod"))
      .agg(count(lit(1)).cast("long").as("nh"))
      .groupBy(col("v_type"))
      .agg(sum(expr("""CAST(nh * (nh - 1) * (2 * nh + 5) AS DOUBLE)
        |  / CAST(18 AS DOUBLE)""".stripMargin)).as("var_s"))
    val z2 = expr("""CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / var_s"""
      .stripMargin)
    pr.join(vs, col("v_type") === col("event_type"))
      .select(col("event_type"), col("s").as("mk_s"),
        round(col("var_s"), 6).as("var_s"),
        when(col("var_s") > 0, round(z2, 6)).otherwise(lit(null))
          .as("z2"),
        coalesce(when(col("var_s") > 0, z2 > 3.8415), lit(false))
          .as("seasonal_trend"))
      .orderBy(col("event_type"))
  }

  /** VOLUME CONCENTRATION — how much of a type's traffic lands on its
    * biggest days? The Herfindahl–Hirschman index of daily volume
    * shares collapses to the EXACT rational HHI = Q/S² (Σ(c/S)² with
    * the S² cleared), normalized ((HHI − 1/n)/(1 − 1/n) ∈ [0,1]) so
    * spans of different lengths compare; peak share rides along. The
    * one-number "is this campaign-driven or steady" readout beside
    * q246's burstiness (inter-arrival shape) and q235's Fano (count
    * dispersion).
    *
    * Exactness: Q, S², n·Q, max·... every ingredient exact int64
    * (Q ≤ n·c_max² — int64-safe to 3·10⁹ event-days at 10⁴/day);
    * HHI is ONE double divide, the normalization a fixed chain with
    * the n = 1 degenerate → NULL via nullif (a single day has no
    * concentration scale, stated). Zero-volume types never reach the
    * output (S = 0 has no shares — excluded).
    *
    * Plan: the q235 grid moments + one max, 5-row finish.
    */
  val q292VolumeHhi = Q(
    "q292_volume_hhi",
    s"""WITH e AS (
      |  SELECT event_type,
      |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day
      |  FROM events
      |  WHERE ts IS NOT NULL AND event_type IS NOT NULL
      |),
      |dc AS (SELECT event_type, day, CAST(count(*) AS BIGINT) AS cnt
      |       FROM e GROUP BY 1, 2),
      |b AS (SELECT event_type, min(day) AS d0, max(day) AS d1
      |      FROM dc GROUP BY 1),
      |grid AS (
      |  SELECT b.event_type, unnest(range(0, b.d1 - b.d0 + 1)) AS t,
      |    b.d0
      |  FROM b
      |),
      |x AS (
      |  SELECT g.event_type, COALESCE(dc.cnt, 0) AS c
      |  FROM grid g LEFT JOIN dc
      |    ON dc.event_type = g.event_type AND dc.day = g.d0 + g.t
      |),
      |mom AS (
      |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(c) AS BIGINT) AS s,
      |    CAST(sum(c * c) AS BIGINT) AS q,
      |    CAST(max(c) AS BIGINT) AS mx
      |  FROM x GROUP BY 1
      |)
      |SELECT event_type, n AS n_days, s AS n_events,
      |  round(CAST(q AS DOUBLE)
      |    / (CAST(s AS DOUBLE) * CAST(s AS DOUBLE)), 6) AS hhi,
      |  round((CAST(q AS DOUBLE)
      |      / (CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
      |      - CAST(1 AS DOUBLE) / CAST(n AS DOUBLE))
      |    / nullif(CAST(1 AS DOUBLE)
      |      - CAST(1 AS DOUBLE) / CAST(n AS DOUBLE),
      |      CAST(0 AS DOUBLE)), 6) AS hhi_normalized,
      |  ${Exact.Sql.ratio6("mx", "s")} AS peak_share
      |FROM mom WHERE s > 0
      |ORDER BY event_type""".stripMargin,
  ) { (s, d) =>
    val dc = Tables.events(s, d)
      .filter(col("ts").isNotNull && col("event_type").isNotNull)
      .select(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("day"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).cast("long").as("cnt"))
    val grid = dc.groupBy(col("event_type"))
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(col("event_type").as("g_type"), col("d0"),
        explode(sequence(lit(0L), col("d1") - col("d0"))).as("t"))
    val x = grid.join(dc,
        col("g_type") === dc("event_type")
          && dc("day") === col("d0") + col("t"), "left")
      .select(col("g_type").as("event_type"),
        coalesce(col("cnt"), lit(0L)).as("c"))
    val mom = x.groupBy(col("event_type"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("c")).cast("long").as("s"),
        sum(col("c") * col("c")).cast("long").as("q"),
        max(col("c")).cast("long").as("mx"))
    val hhi = expr("""CAST(q AS DOUBLE)
      |  / (CAST(s AS DOUBLE) * CAST(s AS DOUBLE))""".stripMargin)
    mom.filter(col("s") > 0)
      .select(col("event_type"), col("n").as("n_days"),
        col("s").as("n_events"),
        round(hhi, 6).as("hhi"),
        round((hhi - expr("CAST(1 AS DOUBLE) / CAST(n AS DOUBLE)")) /
          nullif(expr("""CAST(1 AS DOUBLE)
            |  - CAST(1 AS DOUBLE) / CAST(n AS DOUBLE)""".stripMargin),
            lit(0.0)), 6).as("hhi_normalized"),
        Exact.ratio6("mx", "s").as("peak_share"))
      .orderBy(col("event_type"))
  }

  /** ORDER-PRIORITY MIX SHIFT — is the TPC-H side's priority
    * composition drifting month over month? The months × priorities
    * contingency χ² plus Cramér's V (the q200 association machinery
    * pointed at time as one margin) — the order-stream health check a
    * fulfillment team runs before trusting any priority-conditioned
    * SLA number.
    *
    * Exactness: the χ² rides the q156/q200 integer-cleared cell form —
    * each cell's (N·O − R·C)²/(N·R·C) with every product exact int64
    * in DOUBLE per-factor form past the int64 line (N ≤ 1.5e5 at
    * sf0.1: N·O ≤ 2e10, (N·O − R·C)² ≤ 4e20 — per-factor doubles, the
    * q260 route), summed as DECIMAL(18,9)-quantized terms; V =
    * √(χ²/(N·min(r−1, c−1))) one fixed chain, with the denominator
    * nullif-guarded on BOTH engines — a single-bucket or single-
    * priority corpus gives min(r−1, c−1) = 0 where DuckDB's IEEE
    * divide yields NaN but Spark's Divide yields NULL (the §5.7
    * divergence class; the guard makes both engines NULL explicitly).
    * Time keys are FIXED 30-DAY EPOCH BUCKETS (epoch_days div 30 —
    * NOT calendar months; a 31-day month can straddle two buckets;
    * PRECONDITION dates ≥ 1970, §5.7). The p is deliberately
    * unreported (df = (r−1)(c−1) > 2 — the q248 stance).
    *
    * Plan: one (month, priority) cell aggregate with window margins,
    * a cell-count-bounded finish. One scan of orders.
    */
  val q293PriorityMixShift = Q(
    "q293_priority_mix_shift",
    """WITH o AS (
      |  SELECT (epoch_us(CAST(o_orderdate AS TIMESTAMP))
      |      // 86400000000) // 30 AS mon,
      |    o_orderpriority AS prio
      |  FROM orders
      |  WHERE o_orderdate IS NOT NULL AND o_orderpriority IS NOT NULL
      |),
      |cell AS (
      |  SELECT mon, prio, CAST(count(*) AS BIGINT) AS o
      |  FROM o GROUP BY 1, 2
      |),
      |m AS (
      |  SELECT mon, prio, o,
      |    CAST(sum(o) OVER (PARTITION BY mon) AS BIGINT) AS r,
      |    CAST(sum(o) OVER (PARTITION BY prio) AS BIGINT) AS c,
      |    CAST(sum(o) OVER () AS BIGINT) AS nn,
      |    CAST(count(DISTINCT prio) OVER () AS BIGINT) AS ncol
      |  FROM cell
      |),
      |terms AS (
      |  SELECT mon, prio, o, r, c, nn, ncol,
      |    CAST((CAST(nn AS DOUBLE) * CAST(o AS DOUBLE)
      |        - CAST(r AS DOUBLE) * CAST(c AS DOUBLE))
      |      * (CAST(nn AS DOUBLE) * CAST(o AS DOUBLE)
      |        - CAST(r AS DOUBLE) * CAST(c AS DOUBLE))
      |      / (CAST(nn AS DOUBLE) * CAST(r AS DOUBLE)
      |        * CAST(c AS DOUBLE)) AS DECIMAL(18,9)) AS t
      |  FROM m
      |),
      |chi AS (
      |  SELECT CAST(sum(t) AS DOUBLE) AS chi2,
      |    max(nn) AS nn, max(ncol) AS ncol,
      |    CAST(count(DISTINCT mon) AS BIGINT) AS nrow
      |  FROM terms
      |)
      |SELECT mon AS month_bucket, prio AS priority, o AS n_orders,
      |  round(CAST(o AS DOUBLE) / CAST(r AS DOUBLE), 6) AS month_share,
      |  round(chi.chi2, 6) AS chi2,
      |  round(sqrt(chi.chi2 / nullif(CAST(chi.nn AS DOUBLE)
      |    * CAST(least(chi.nrow - 1, chi.ncol - 1) AS DOUBLE),
      |    CAST(0 AS DOUBLE))), 6)
      |    AS cramers_v
      |FROM terms CROSS JOIN chi
      |ORDER BY month_bucket, priority""".stripMargin,
  ) { (s, d) =>
    val o = Tables.orders(s, d)
      .filter(col("o_orderdate").isNotNull
        && col("o_orderpriority").isNotNull)
      .select(
        expr("""(unix_micros(CAST(o_orderdate AS TIMESTAMP))
          |  div 86400000000) div 30""".stripMargin)
          .as("mon"),
        col("o_orderpriority").as("prio"))
    val cell = o.groupBy(col("mon"), col("prio"))
      .agg(count(lit(1)).cast("long").as("o"))
    val m = cell.select(col("mon"), col("prio"), col("o"),
      sum(col("o")).over(Window.partitionBy(col("mon"))).cast("long")
        .as("r"),
      sum(col("o")).over(Window.partitionBy(col("prio"))).cast("long")
        .as("c"),
      sum(col("o")).over(Window.partitionBy()).cast("long").as("nn"),
      size(collect_set(col("prio")).over(Window.partitionBy()))
        .cast("long").as("ncol"))
    val terms = m.withColumn("t", expr(
      """CAST((CAST(nn AS DOUBLE) * CAST(o AS DOUBLE)
        |    - CAST(r AS DOUBLE) * CAST(c AS DOUBLE))
        |  * (CAST(nn AS DOUBLE) * CAST(o AS DOUBLE)
        |    - CAST(r AS DOUBLE) * CAST(c AS DOUBLE))
        |  / (CAST(nn AS DOUBLE) * CAST(r AS DOUBLE)
        |    * CAST(c AS DOUBLE)) AS DECIMAL(18,9))""".stripMargin))
      .transform(graft.operators.Iter.pin) // 2 consumers: the chi frame and the rows
    val chi = terms.agg(
      sum(col("t")).cast("double").as("chi2"),
      max(col("nn")).as("c_nn"), max(col("ncol")).as("c_ncol"),
      countDistinct(col("mon")).cast("long").as("nrow"))
    terms.crossJoin(broadcast(chi))
      .select(col("mon").as("month_bucket"), col("prio").as("priority"),
        col("o").as("n_orders"),
        round(expr("CAST(o AS DOUBLE) / CAST(r AS DOUBLE)"), 6)
          .as("month_share"),
        round(col("chi2"), 6).as("chi2"),
        round(sqrt(col("chi2") /
          nullif(col("c_nn").cast("double") *
            least(col("nrow") - 1, col("c_ncol") - 1).cast("double"),
            lit(0.0))),
          6).as("cramers_v"))
      .orderBy(col("month_bucket"), col("priority"))
  }

  /** INTER-EVENT BURSTINESS — Goh & Barabási's B = (σ−μ)/(σ+μ) over
    * the inter-event gap distribution per type: −1 for a metronome
    * (σ = 0), 0 for Poisson (σ = μ), → +1 for heavy-tailed bursts.
    * The single-number companion to q266's Greenwood (which measures
    * clumping of MASS across the span) and q261's Hurst (which needs
    * long-range blocks): B reads the gap histogram's SHAPE, the
    * standard "is this traffic human or cron" triage number. CV = σ/μ
    * reported alongside (B is its Möbius transform — both fall out of
    * the same two moments).
    *
    * Exactness: gaps in whole seconds off the (us, event_id) per-type
    * lag order (q266's device, same flooring both engines); m, S = Σg,
    * Q = Σg² exact int64. The POPULATION σ makes the m cancel:
    * B = (√(mQ − S²) − S)/(√(mQ − S²) + S) — exact ints into ONE IEEE
    * sqrt and ONE divide (bound: mQ ≤ m·span² ≈ 2·10¹⁸ at the ×10
    * axis's 3·10⁵ events/type over 30 days — inside int64, per-factor
    * doubles past that, §5.7). An all-same-second type (S = 0, σ = 0)
    * is 0/0 → NULL via nullif (stated); a metronome hits B = −1
    * EXACTLY (√ of a perfect 0). m = 0 (≤1 event) emits nothing.
    *
    * Plan: one per-type lag window, one moment aggregate. One scan.
    */
  val q296GapBurstiness = Q(
    "q296_gap_burstiness",
    """WITH e AS (
      |  SELECT event_type, event_id,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS us
      |  FROM events
      |  WHERE ts IS NOT NULL AND event_type IS NOT NULL
      |),
      |gaps AS (
      |  SELECT event_type,
      |    (us - lag(us) OVER (PARTITION BY event_type
      |      ORDER BY us, event_id)) // 1000000 AS g
      |  FROM e
      |),
      |m AS (
      |  SELECT event_type, CAST(count(*) AS BIGINT) AS m,
      |    CAST(sum(g) AS BIGINT) AS s,
      |    CAST(sum(g * g) AS BIGINT) AS q
      |  FROM gaps WHERE g IS NOT NULL GROUP BY 1
      |)
      |SELECT event_type, m AS n_gaps,
      |  round(CAST(s AS DOUBLE) / CAST(m AS DOUBLE), 6) AS mean_gap_s,
      |  round(sqrt(CAST(m * q - s * s AS DOUBLE)) / CAST(m AS DOUBLE),
      |    6) AS sd_gap_s,
      |  round(sqrt(CAST(m * q - s * s AS DOUBLE))
      |    / nullif(CAST(s AS DOUBLE), CAST(0 AS DOUBLE)), 6) AS cv,
      |  round((sqrt(CAST(m * q - s * s AS DOUBLE)) - CAST(s AS DOUBLE))
      |    / nullif(sqrt(CAST(m * q - s * s AS DOUBLE))
      |      + CAST(s AS DOUBLE), CAST(0 AS DOUBLE)), 6) AS burstiness
      |FROM m
      |ORDER BY event_type""".stripMargin,
  ) { (s, d) =>
    val e = Tables.events(s, d)
      .filter(col("ts").isNotNull && col("event_type").isNotNull)
      .select(col("event_type"), col("event_id"),
        expr("unix_micros(ts)").as("us"))
    // r16: scale-parallel gap stage (see OrderedBins.typeGapsCarry)
    val gaps = typeGapsCarry(e)
      .select(col("event_type"), expr("gp div 1000000").as("g"))
    val m = gaps.groupBy(col("event_type"))
      .agg(count(lit(1)).cast("long").as("m"),
        sum(col("g")).cast("long").as("s"),
        sum(col("g") * col("g")).cast("long").as("q"))
    val r = sqrt(expr("CAST(m * q - s * s AS DOUBLE)"))
    m.select(col("event_type"), col("m").as("n_gaps"),
        round(expr("CAST(s AS DOUBLE) / CAST(m AS DOUBLE)"), 6)
          .as("mean_gap_s"),
        round(r / col("m").cast("double"), 6).as("sd_gap_s"),
        round(r / nullif(col("s").cast("double"), lit(0.0)), 6).as("cv"),
        round((r - col("s").cast("double")) /
          nullif(r + col("s").cast("double"), lit(0.0)), 6)
          .as("burstiness"))
      .orderBy(col("event_type"))
  }

  /** PURCHASE ODDS RATIO with WOOLF CI — the 2×2 effect size the
    * z-tests (q154) and rate diffs don't report: arms from the q65
    * md5 'ab|' split, outcome = did the user EVER purchase; OR =
    * (a·d)/(b·c) with the Woolf log-interval exp(ln OR ± 1.96·
    * √(1/a + 1/b + 1/c + 1/d)) — the effect measure meta-analyses
    * and epidemiology standardized on because ln OR is symmetric and
    * variance-stable where risk ratios are not.
    *
    * Exactness: the four cells are exact int64 distinct-user counts;
    * OR is ONE divide of exact int64 cross-products (cells ≤ 2·10⁶ →
    * products ≤ 4·10¹² ≪ 2⁶³); ln/exp ride the house float-cast; SE's
    * four reciprocals sum LEFT-TO-RIGHT a, b, c, d (fixed order, the
    * q243 stance). ANY empty cell → NULL OR and CI via explicit CASE
    * (no Haldane +0.5 smoothing — a zero cell is reported as
    * undefined, stated); the verdict is a STRING (§5.7).
    *
    * Plan: one per-user aggregate (map-side combined), a 4-cell
    * collapse, a 1-row finish. Nothing row-proportional after the
    * user collapse.
    */
  val q297OddsRatio = Q(
    "q297_odds_ratio",
    """WITH u AS (
      |  SELECT user_id,
      |    CAST(('0x' || substr(md5('ab|' || CAST(user_id AS VARCHAR)),
      |      1, 1)) AS BIGINT) % 2 AS arm,
      |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      |      AS purch
      |  FROM events WHERE user_id IS NOT NULL
      |  GROUP BY 1, 2
      |),
      |c AS (
      |  SELECT
      |    CAST(sum(CASE WHEN arm = 1 AND purch = 1 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS a,
      |    CAST(sum(CASE WHEN arm = 1 AND purch = 0 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS b,
      |    CAST(sum(CASE WHEN arm = 0 AND purch = 1 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS cc,
      |    CAST(sum(CASE WHEN arm = 0 AND purch = 0 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS dd
      |  FROM u
      |),
      |f AS (
      |  SELECT a, b, cc, dd,
      |    CASE WHEN a > 0 AND b > 0 AND cc > 0 AND dd > 0 THEN
      |      CAST(a AS DOUBLE) * CAST(dd AS DOUBLE)
      |        / (CAST(b AS DOUBLE) * CAST(cc AS DOUBLE))
      |    ELSE NULL END AS orr,
      |    CASE WHEN a > 0 AND b > 0 AND cc > 0 AND dd > 0 THEN
      |      sqrt(CAST(1 AS DOUBLE) / CAST(a AS DOUBLE)
      |        + CAST(1 AS DOUBLE) / CAST(b AS DOUBLE)
      |        + CAST(1 AS DOUBLE) / CAST(cc AS DOUBLE)
      |        + CAST(1 AS DOUBLE) / CAST(dd AS DOUBLE))
      |    ELSE NULL END AS se
      |  FROM c
      |)
      |SELECT a AS treat_purch, b AS treat_no, cc AS ctrl_purch,
      |  dd AS ctrl_no,
      |  round(orr, 6) AS odds_ratio,
      |  round(CAST(exp(CAST(CAST(ln(orr) AS FLOAT) AS DOUBLE)
      |    - 1.96 * se) AS FLOAT), 6) AS ci_lo,
      |  round(CAST(exp(CAST(CAST(ln(orr) AS FLOAT) AS DOUBLE)
      |    + 1.96 * se) AS FLOAT), 6) AS ci_hi,
      |  CASE WHEN orr IS NULL THEN NULL
      |    WHEN CAST(exp(CAST(CAST(ln(orr) AS FLOAT) AS DOUBLE)
      |        - 1.96 * se) AS FLOAT) > 1
      |      OR CAST(exp(CAST(CAST(ln(orr) AS FLOAT) AS DOUBLE)
      |        + 1.96 * se) AS FLOAT) < 1
      |      THEN 'detectable' ELSE 'null_compatible' END AS verdict
      |FROM f""".stripMargin,
  ) { (s, d) =>
    val u = Tables.events(s, d)
      .filter(col("user_id").isNotNull)
      .groupBy(col("user_id"),
        (conv(substring(md5(concat(lit("ab|"),
          col("user_id").cast("string"))), 1, 1), 16, 10)
          .cast("long") % 2).as("arm"))
      .agg(max(when(col("event_type") === "purchase", 1).otherwise(0))
        .as("purch"))
    val c = u.agg(
      sum(when(col("arm") === 1 && col("purch") === 1, 1).otherwise(0))
        .cast("long").as("a"),
      sum(when(col("arm") === 1 && col("purch") === 0, 1).otherwise(0))
        .cast("long").as("b"),
      sum(when(col("arm") === 0 && col("purch") === 1, 1).otherwise(0))
        .cast("long").as("cc"),
      sum(when(col("arm") === 0 && col("purch") === 0, 1).otherwise(0))
        .cast("long").as("dd"))
    val f = c.select(col("a"), col("b"), col("cc"), col("dd"),
      expr("""CASE WHEN a > 0 AND b > 0 AND cc > 0 AND dd > 0 THEN
        |  CAST(a AS DOUBLE) * CAST(dd AS DOUBLE)
        |    / (CAST(b AS DOUBLE) * CAST(cc AS DOUBLE))
        |ELSE NULL END""".stripMargin).as("orr"),
      expr("""CASE WHEN a > 0 AND b > 0 AND cc > 0 AND dd > 0 THEN
        |  sqrt(CAST(1 AS DOUBLE) / CAST(a AS DOUBLE)
        |    + CAST(1 AS DOUBLE) / CAST(b AS DOUBLE)
        |    + CAST(1 AS DOUBLE) / CAST(cc AS DOUBLE)
        |    + CAST(1 AS DOUBLE) / CAST(dd AS DOUBLE))
        |ELSE NULL END""".stripMargin).as("se"))
    val lo = expr("""CAST(exp(CAST(CAST(ln(orr) AS FLOAT) AS DOUBLE)
      |  - 1.96 * se) AS FLOAT)""".stripMargin)
    val hi = expr("""CAST(exp(CAST(CAST(ln(orr) AS FLOAT) AS DOUBLE)
      |  + 1.96 * se) AS FLOAT)""".stripMargin)
    f.select(col("a").as("treat_purch"), col("b").as("treat_no"),
      col("cc").as("ctrl_purch"), col("dd").as("ctrl_no"),
      round(col("orr"), 6).as("odds_ratio"),
      round(lo, 6).as("ci_lo"), round(hi, 6).as("ci_hi"),
      when(col("orr").isNull, lit(null).cast("string"))
        .when(lo > 1 || hi < 1, lit("detectable"))
        .otherwise(lit("null_compatible")).as("verdict"))
  }

  /** McNEMAR'S TEST — did individual users CHANGE behavior between the
    * two calendar halves? The paired-binary test the two-sample
    * machinery (q154/q162) cannot express: each user is their own
    * control, and only the DISCORDANT pairs carry information — b
    * (active early, silent late) vs c (silent early, active late),
    * χ²₁ = (b−c)²/(b+c). The churn-vs-activation balance check behind
    * any "engagement shifted" claim. Outcome here: did the user
    * purchase in each half.
    *
    * Exactness: the span midpoint mid = (min_us + max_us) div 2 comes
    * from a 2-scalar driver probe on the Spark side and the identical
    * integer subquery in the oracle (both floor non-negatives — §5.7);
    * per-user half-flags are exact max() indicators; χ² is ONE divide
    * of exact int64s ((b−c)² ≤ 4·10¹² at 2·10⁶ users). b + c = 0 (no
    * discordant users) → NULL χ² via nullif and a NULL STRING verdict
    * (§5.7). The 3.8415 literal is the χ²₁ 5% line (q260's stance).
    *
    * Plan: one per-user aggregate, a 1-row finish. The probe is two
    * scalars, never rows.
    */
  val q298McNemar = Q(
    "q298_mcnemar",
    """WITH e AS (
      |  SELECT user_id, event_type,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS us
      |  FROM events
      |  WHERE ts IS NOT NULL AND user_id IS NOT NULL
      |),
      |m AS (SELECT (min(us) + max(us)) // 2 AS mid FROM e),
      |u AS (
      |  SELECT user_id,
      |    max(CASE WHEN event_type = 'purchase'
      |      AND us <= (SELECT mid FROM m) THEN 1 ELSE 0 END) AS h1,
      |    max(CASE WHEN event_type = 'purchase'
      |      AND us > (SELECT mid FROM m) THEN 1 ELSE 0 END) AS h2
      |  FROM e GROUP BY 1
      |),
      |c AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(CASE WHEN h1 = 1 AND h2 = 1 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS both_halves,
      |    CAST(sum(CASE WHEN h1 = 1 AND h2 = 0 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS churned,
      |    CAST(sum(CASE WHEN h1 = 0 AND h2 = 1 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS activated,
      |    CAST(sum(CASE WHEN h1 = 0 AND h2 = 0 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS neither
      |  FROM u
      |)
      |SELECT n AS n_users, both_halves, churned, activated, neither,
      |  round(CAST((churned - activated) * (churned - activated)
      |      AS DOUBLE)
      |    / nullif(CAST(churned + activated AS DOUBLE),
      |      CAST(0 AS DOUBLE)), 6) AS chi2,
      |  CASE WHEN churned + activated = 0 THEN NULL
      |    WHEN CAST((churned - activated) * (churned - activated)
      |        AS DOUBLE)
      |      / CAST(churned + activated AS DOUBLE) > 3.8415
      |      THEN 'shifted' ELSE 'stable' END AS verdict
      |FROM c
      |WHERE n > 0""".stripMargin,
      // WHERE n > 0: empty corpus → EMPTY output on BOTH engines (the
      // Spark side builds an explicit empty frame; without the guard the
      // DuckDB ungrouped aggregate would emit one NULL row — r15 ADVICE)
  ) { (s, d) =>
    val e = Tables.events(s, d)
      .filter(col("ts").isNotNull && col("user_id").isNotNull)
      .select(col("user_id"), col("event_type"),
        expr("unix_micros(ts)").as("us"))
      .transform(graft.operators.Iter.pin) // 2 consumers: the 2-scalar probe and the walk
    val mm = e.agg(min(col("us")), max(col("us"))).head
    if (mm.isNullAt(0)) {
      // empty corpus: zero-row frame with the output schema
      e.sparkSession.emptyDataFrame
        .selectExpr("CAST(0 AS BIGINT) AS n_users",
          "CAST(0 AS BIGINT) AS both_halves",
          "CAST(0 AS BIGINT) AS churned",
          "CAST(0 AS BIGINT) AS activated",
          "CAST(0 AS BIGINT) AS neither",
          "CAST(NULL AS DOUBLE) AS chi2",
          "CAST(NULL AS STRING) AS verdict")
        .limit(0)
    } else {
      val mid = Math.floorDiv(mm.getLong(0) + mm.getLong(1), 2L)
      val u = e.groupBy(col("user_id"))
        .agg(max(when(col("event_type") === "purchase"
            && col("us") <= mid, 1).otherwise(0)).as("h1"),
          max(when(col("event_type") === "purchase"
            && col("us") > mid, 1).otherwise(0)).as("h2"))
      val c = u.agg(count(lit(1)).cast("long").as("n"),
        sum(when(col("h1") === 1 && col("h2") === 1, 1).otherwise(0))
          .cast("long").as("both_halves"),
        sum(when(col("h1") === 1 && col("h2") === 0, 1).otherwise(0))
          .cast("long").as("churned"),
        sum(when(col("h1") === 0 && col("h2") === 1, 1).otherwise(0))
          .cast("long").as("activated"),
        sum(when(col("h1") === 0 && col("h2") === 0, 1).otherwise(0))
          .cast("long").as("neither"))
      val chi = expr("""CAST((churned - activated)
        |  * (churned - activated) AS DOUBLE)
        |  / nullif(CAST(churned + activated AS DOUBLE),
        |    CAST(0 AS DOUBLE))""".stripMargin)
      c.select(col("n").as("n_users"), col("both_halves"),
        col("churned"), col("activated"), col("neither"),
        round(chi, 6).as("chi2"),
        when(col("churned") + col("activated") === 0,
          lit(null).cast("string"))
          .when(chi > 3.8415, lit("shifted"))
          .otherwise(lit("stable")).as("verdict"))
    }
  }

  /** DAY-OF-WEEK SEASONALITY STRENGTH — how much of the daily-volume
    * variance does the weekly cycle explain? Per type over the
    * zero-filled daily grid (q249's dense device — silent days are
    * observations), the one-way η² = SSB/SST with day-of-week as the
    * factor: η² ≈ 0 says volume ignores the week, → 1 says the weekly
    * rhythm IS the series. The decomposition behind "don't compare
    * Tuesday to Sunday" — and the diagnostic q290's seasonal
    * Mann–Kendall PRESUMES (it blocks by hour-of-day; this measures
    * whether day-of-week blocking is warranted too). Reports the peak
    * weekday and its mean multiple of the overall mean.
    *
    * Exactness: per-(type, dow) n_d and S_d and per-type n, S, Q are
    * exact int64 over grid counts; each SSB term S_d²/n_d is ONE
    * divide of exact int64s quantized to DECIMAL(18,9) for the
    * associative 7-term total (the q197 idiom); SST = Q − S²/n and the
    * final ratio are fixed-order chains (S² ≤ (3·10⁶)² at the ×10
    * axis — inside int64). Constant grids (SST = 0, only possible on
    * degenerate fixtures) → NULL η² via nullif. dow = epoch_days % 7
    * (0 = Thursday; a LABEL, not a calendar claim — stated;
    * PRECONDITION ts ≥ 1970, §5.7). Spans shorter than 8 days cannot
    * separate dow from day → rows still emit, η² reads 1 trivially at
    * n_d = 1 per cell (stated — the consumer gates on n_days).
    *
    * Plan: one (type, day) aggregate, the q249 grid join, a ≤7-row
    * per-type collapse, a window-total finish over ≤7 rows.
    */
  val q299DowSeasonality = Q(
    "q299_dow_seasonality",
    """WITH dc AS (
      |  SELECT event_type,
      |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
      |    CAST(count(*) AS BIGINT) AS cnt
      |  FROM events
      |  WHERE ts IS NOT NULL AND event_type IS NOT NULL
      |  GROUP BY 1, 2
      |),
      |b AS (SELECT event_type, min(day) AS d0, max(day) AS d1 FROM dc
      |      GROUP BY 1),
      |grid AS (
      |  SELECT b.event_type, gs.day
      |  FROM b, LATERAL (SELECT unnest(generate_series(b.d0, b.d1))
      |    AS day) gs
      |),
      |z AS (
      |  SELECT g.event_type, g.day % 7 AS dow,
      |    COALESCE(dc.cnt, 0) AS c
      |  FROM grid g LEFT JOIN dc
      |    ON dc.event_type = g.event_type AND dc.day = g.day
      |),
      |dw AS (
      |  SELECT event_type, dow, CAST(count(*) AS BIGINT) AS nd,
      |    CAST(sum(c) AS BIGINT) AS sd
      |  FROM z GROUP BY 1, 2
      |),
      |t AS (
      |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(c) AS BIGINT) AS s,
      |    CAST(sum(c * c) AS BIGINT) AS q
      |  FROM z GROUP BY 1
      |),
      |ssb AS (
      |  SELECT dw.event_type,
      |    CAST(sum(CAST(CAST(dw.sd AS DOUBLE) * CAST(dw.sd AS DOUBLE)
      |      / CAST(dw.nd AS DOUBLE) AS DECIMAL(38,9))) AS DOUBLE)
      |      AS sb
      |  FROM dw GROUP BY 1
      |),
      |pk AS (
      |  SELECT event_type, dow AS peak_dow, nd AS peak_nd, sd AS peak_sd
      |  FROM (
      |    SELECT event_type, dow, nd, sd,
      |      row_number() OVER (PARTITION BY event_type
      |        ORDER BY CAST(sd AS DOUBLE) / CAST(nd AS DOUBLE) DESC,
      |          dow) AS rk
      |    FROM dw) zz
      |  WHERE rk = 1
      |)
      |SELECT t.event_type, t.n AS n_days,
      |  round((ssb.sb - CAST(t.s AS DOUBLE) * CAST(t.s AS DOUBLE)
      |      / CAST(t.n AS DOUBLE))
      |    / nullif(CAST(t.q AS DOUBLE)
      |      - CAST(t.s AS DOUBLE) * CAST(t.s AS DOUBLE)
      |        / CAST(t.n AS DOUBLE), CAST(0 AS DOUBLE)), 6) AS eta2,
      |  CAST(pk.peak_dow AS INTEGER) AS peak_dow,
      |  round(CAST(pk.peak_sd AS DOUBLE) / CAST(pk.peak_nd AS DOUBLE)
      |    / nullif(CAST(t.s AS DOUBLE) / CAST(t.n AS DOUBLE),
      |      CAST(0 AS DOUBLE)), 6) AS peak_multiple
      |FROM t
      |JOIN ssb ON ssb.event_type = t.event_type
      |JOIN pk ON pk.event_type = t.event_type
      |ORDER BY t.event_type""".stripMargin,
  ) { (s, d) =>
    val dc = Tables.events(s, d)
      .filter(col("ts").isNotNull && col("event_type").isNotNull)
      .select(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("day"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).cast("long").as("cnt"))
    val grid = dc.groupBy(col("event_type").as("g_type"))
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(col("g_type"), col("d0"),
        explode(sequence(lit(0L), col("d1") - col("d0"))).as("t"))
      .select(col("g_type"), (col("d0") + col("t")).as("day"))
    val z = grid.join(dc,
        col("g_type") === dc("event_type") && dc("day") === grid("day"),
        "left")
      .select(col("g_type").as("event_type"), (grid("day") % 7).as("dow"),
        coalesce(col("cnt"), lit(0L)).as("c"))
      .transform(graft.operators.Iter.pin) // 2 consumers: dow cells and type moments
    val dw = z.groupBy(col("event_type").as("w_type"), col("dow"))
      .agg(count(lit(1)).cast("long").as("nd"),
        sum(col("c")).cast("long").as("sd"))
      .transform(graft.operators.Iter.pin) // 2 consumers: the SSB total and the peak
    val t = z.groupBy(col("event_type"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("c")).cast("long").as("s"),
        sum(col("c") * col("c")).cast("long").as("q"))
    val ssb = dw.groupBy(col("w_type").as("s_type"))
      // DECIMAL(38,9): r18 timeburst headroom -- see the q258 note
      .agg(sum(expr("""CAST(CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE)
        |  / CAST(nd AS DOUBLE) AS DECIMAL(38,9))""".stripMargin))
        .cast("double").as("sb"))
    val pk = dw.select(col("w_type").as("p_type"), col("dow"),
        col("nd"), col("sd"),
        row_number().over(Window.partitionBy(col("w_type"))
          .orderBy((col("sd").cast("double") / col("nd").cast("double"))
            .desc, col("dow"))).as("rk"))
      .filter(col("rk") === 1)
    t.join(ssb, col("s_type") === col("event_type"))
      .join(pk, col("p_type") === col("event_type"))
      .select(col("event_type"), col("n").as("n_days"),
        round(expr("""(sb - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
          |    / CAST(n AS DOUBLE))
          |  / nullif(CAST(q AS DOUBLE)
          |    - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
          |      / CAST(n AS DOUBLE), CAST(0 AS DOUBLE))"""
          .stripMargin), 6).as("eta2"),
        col("dow").cast("int").as("peak_dow"),
        round(expr("""CAST(sd AS DOUBLE) / CAST(nd AS DOUBLE)
          |  / nullif(CAST(s AS DOUBLE) / CAST(n AS DOUBLE),
          |    CAST(0 AS DOUBLE))""".stripMargin), 6)
          .as("peak_multiple"))
      .orderBy(col("event_type"))
  }

  /** CRONBACH'S ALPHA — do the event types measure ONE underlying
    * engagement trait? Items = event types, observations = users,
    * score = per-user event count: α = k/(k−1)·(1 − Σᵢσᵢ²/σ_T²). High
    * α says the per-type counts co-vary (one "activity" factor — a
    * composite engagement score is defensible); α near 0 says types
    * move independently and a single metric would launder distinct
    * behaviors. The internal-consistency gate in front of any
    * composite-index dashboard (and of q227-style profile cosines,
    * which PRESUME the components cohere).
    *
    * Exactness: the n(n−1) variance denominators CANCEL in the ratio,
    * so α = k/(k−1)·(1 − SSI/SST) with SSI = Σᵢ(n·Σxᵢ² − Sᵢ²) and
    * SST = n·ΣT² − (ΣT)² — ALL exact int64 (users absent from a type
    * score 0, contributing nothing to either moment, so no zero-fill
    * materializes; bounds: n·ΣT² ≈ 10¹² at the ×10 axis). One double
    * divide + one fixed 3-op chain. SST = 0 (every user identical
    * totals — degenerate) → NULL via nullif; k < 2 → NULL α (stated:
    * one item has no internal consistency).
    *
    * Plan: one (user, type) aggregate, one per-type moment rollup
    * (k-bounded), one per-user total rollup, a 1-row finish. Two
    * scans of the user collapse, nothing row-proportional after it.
    */
  val q301CronbachAlpha = Q(
    "q301_cronbach_alpha",
    """WITH ut AS (
      |  SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS x
      |  FROM events
      |  WHERE user_id IS NOT NULL AND event_type IS NOT NULL
      |  GROUP BY 1, 2
      |),
      |nn AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n FROM ut),
      |ti AS (
      |  SELECT CAST(count(DISTINCT event_type) AS BIGINT) AS k,
      |    CAST(sum(x * x) AS BIGINT) AS sxx
      |  FROM ut
      |),
      |si AS (
      |  SELECT CAST(sum(s * s) AS BIGINT) AS ss2
      |  FROM (SELECT event_type, CAST(sum(x) AS BIGINT) AS s
      |        FROM ut GROUP BY 1) z
      |),
      |tu AS (
      |  SELECT CAST(sum(t) AS BIGINT) AS st,
      |    CAST(sum(t * t) AS BIGINT) AS stt
      |  FROM (SELECT user_id, CAST(sum(x) AS BIGINT) AS t
      |        FROM ut GROUP BY 1) z
      |)
      |SELECT ti.k AS k_items, nn.n AS n_users,
      |  round(CAST(ti.k AS DOUBLE) / nullif(CAST(ti.k - 1 AS DOUBLE),
      |      CAST(0 AS DOUBLE))
      |    * (CAST(1 AS DOUBLE)
      |      - CAST(nn.n * ti.sxx - si.ss2 AS DOUBLE)
      |        / nullif(CAST(nn.n * tu.stt - tu.st * tu.st AS DOUBLE),
      |          CAST(0 AS DOUBLE))), 6) AS alpha
      |FROM ti CROSS JOIN nn CROSS JOIN si CROSS JOIN tu""".stripMargin,
  ) { (s, d) =>
    val ut = Tables.events(s, d)
      .filter(col("user_id").isNotNull && col("event_type").isNotNull)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).cast("long").as("x"))
      .transform(graft.operators.Iter.pin) // 3 consumers: item moments, user totals, n/k
    val nn = ut.agg(countDistinct(col("user_id")).cast("long").as("n"))
    val ti = ut.agg(countDistinct(col("event_type")).cast("long").as("k"),
      sum(col("x") * col("x")).cast("long").as("sxx"))
    val si = ut.groupBy(col("event_type"))
      .agg(sum(col("x")).cast("long").as("s"))
      .agg(sum(col("s") * col("s")).cast("long").as("ss2"))
    val tu = ut.groupBy(col("user_id"))
      .agg(sum(col("x")).cast("long").as("t"))
      .agg(sum(col("t")).cast("long").as("st"),
        sum(col("t") * col("t")).cast("long").as("stt"))
    ti.crossJoin(broadcast(nn)).crossJoin(broadcast(si))
      .crossJoin(broadcast(tu))
      .select(col("k").as("k_items"), col("n").as("n_users"),
        round(expr("""CAST(k AS DOUBLE) / nullif(CAST(k - 1 AS DOUBLE),
          |    CAST(0 AS DOUBLE))
          |  * (CAST(1 AS DOUBLE)
          |    - CAST(n * sxx - ss2 AS DOUBLE)
          |      / nullif(CAST(n * stt - st * st AS DOUBLE),
          |        CAST(0 AS DOUBLE)))""".stripMargin), 6).as("alpha"))
  }

  /** KENDALL'S W — are the days CONCORDANT about which event types
    * dominate? Each day ranks the k types by zero-filled daily count
    * (the (count DESC, type) deterministic total order — the q260/q213
    * tie device: every day emits a full permutation of 1..k, so the
    * NO-TIE closed form is exact by construction, not approximation):
    * W = (12·ΣRⱼ² − 3·m²·k·(k+1)²) / (m²·k·(k²−1)), 1 = every day
    * agrees, 0 = rankings are noise. The multi-judge agreement number
    * behind "weekdays behave alike" claims — and χ² = m(k−1)W is the
    * Friedman statistic, tying this to q259 (same machinery, judges
    * transposed).
    *
    * Exactness: ALL integer — rank sums Rⱼ ≤ m·k, ΣRⱼ² ≤ k·(m·k)²
    * (≈ 10¹⁰ at the ×10 axis), every term of the closed form exact
    * int64; ONE final divide. k = 1 → NULL via nullif (k²−1 = 0);
    * empty corpus → empty output. Days with zero events of every type
    * still rank (all-zero → rank purely by type name — stated; they
    * pull W toward the typename order, which is the honest reading of
    * "no signal that day").
    *
    * Plan: one (type, day) aggregate, the q249 dense grid (bounded by
    * span × k), a per-day rank window over k rows, a k-row rank-sum
    * aggregate, a 1-row finish.
    */
  val q302KendallW = Q(
    "q302_kendall_w",
    """WITH dc AS (
      |  SELECT event_type,
      |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
      |    CAST(count(*) AS BIGINT) AS cnt
      |  FROM events
      |  WHERE ts IS NOT NULL AND event_type IS NOT NULL
      |  GROUP BY 1, 2
      |),
      |b AS (SELECT min(day) AS d0, max(day) AS d1,
      |        CAST(count(DISTINCT event_type) AS BIGINT) AS k
      |      FROM dc),
      |types AS (SELECT DISTINCT event_type FROM dc),
      |grid AS (
      |  SELECT t.event_type, gs.day
      |  FROM types t, b, LATERAL (SELECT
      |    unnest(generate_series(b.d0, b.d1)) AS day) gs
      |),
      |z AS (
      |  SELECT g.event_type, g.day, COALESCE(dc.cnt, 0) AS c
      |  FROM grid g LEFT JOIN dc
      |    ON dc.event_type = g.event_type AND dc.day = g.day
      |),
      |rk AS (
      |  SELECT event_type,
      |    CAST(row_number() OVER (PARTITION BY day
      |      ORDER BY c DESC, event_type) AS BIGINT) AS r
      |  FROM z
      |),
      |rs AS (
      |  SELECT event_type, CAST(sum(r) AS BIGINT) AS rj,
      |    CAST(count(*) AS BIGINT) AS m
      |  FROM rk GROUP BY 1
      |),
      |f AS (
      |  SELECT CAST(count(*) AS BIGINT) AS k, max(m) AS m,
      |    CAST(sum(rj * rj) AS BIGINT) AS sr2
      |  FROM rs
      |)
      |SELECT k AS k_types, m AS n_days,
      |  round(CAST(12 * sr2 - 3 * m * m * k * (k + 1) * (k + 1)
      |      AS DOUBLE)
      |    / nullif(CAST(m * m * k * (k * k - 1) AS DOUBLE),
      |      CAST(0 AS DOUBLE)), 6) AS kendall_w,
      |  round(CAST(m * (k - 1) AS DOUBLE)
      |    * CAST(12 * sr2 - 3 * m * m * k * (k + 1) * (k + 1)
      |      AS DOUBLE)
      |    / nullif(CAST(m * m * k * (k * k - 1) AS DOUBLE),
      |      CAST(0 AS DOUBLE)), 6) AS friedman_chi2
      |FROM f
      |WHERE m IS NOT NULL""".stripMargin,
      // WHERE m IS NOT NULL: mirrors the Spark .filter(m.isNotNull) so an
      // empty corpus yields EMPTY output on BOTH engines (r15 ADVICE)
  ) { (s, d) =>
    val dc = Tables.events(s, d)
      .filter(col("ts").isNotNull && col("event_type").isNotNull)
      .select(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("day"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).cast("long").as("cnt"))
      .transform(graft.operators.Iter.pin) // 3 consumers: bounds, the type list, the join
    val b = dc.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    val types = dc.select(col("event_type").as("g_type")).distinct()
    val grid = types.crossJoin(broadcast(b))
      .select(col("g_type"), col("d0"),
        explode(sequence(lit(0L), col("d1") - col("d0"))).as("t"))
      .select(col("g_type"), (col("d0") + col("t")).as("day"))
    val z = grid.join(dc,
        col("g_type") === dc("event_type") && dc("day") === grid("day"),
        "left")
      .select(col("g_type").as("event_type"), grid("day"),
        coalesce(col("cnt"), lit(0L)).as("c"))
    val rk = z.select(col("event_type"),
      row_number().over(Window.partitionBy(col("day"))
        .orderBy(col("c").desc, col("event_type"))).cast("long").as("r"))
    val rs = rk.groupBy(col("event_type"))
      .agg(sum(col("r")).cast("long").as("rj"),
        count(lit(1)).cast("long").as("m"))
    rs.agg(count(lit(1)).cast("long").as("k"), max(col("m")).as("m"),
        sum(col("rj") * col("rj")).cast("long").as("sr2"))
      .filter(col("m").isNotNull)
      .select(col("k").as("k_types"), col("m").as("n_days"),
        round(expr("""CAST(12 * sr2 - 3 * m * m * k * (k + 1) * (k + 1)
          |    AS DOUBLE)
          |  / nullif(CAST(m * m * k * (k * k - 1) AS DOUBLE),
          |    CAST(0 AS DOUBLE))""".stripMargin), 6).as("kendall_w"),
        round(expr("""CAST(m * (k - 1) AS DOUBLE)
          |  * CAST(12 * sr2 - 3 * m * m * k * (k + 1) * (k + 1)
          |    AS DOUBLE)
          |  / nullif(CAST(m * m * k * (k * k - 1) AS DOUBLE),
          |    CAST(0 AS DOUBLE))""".stripMargin), 6)
          .as("friedman_chi2"))
  }

  /** THEIL INDEX — user-activity inequality per event type WITHOUT the
    * sort every Gini needs: T = Σ (xᵤ/S)·ln(xᵤ·n/S) over participating
    * users, 0 when activity is uniform, ln(n) at total concentration.
    * The entropy-based inequality number (decomposable, unlike Gini —
    * why economists use it for drill-downs), here the "is this type's
    * volume a community or one bot" triage. Participants only — users
    * with zero events of a type are OUT of its population (stated;
    * the participation margin is q214's stickiness, a different op).
    *
    * Exactness: xᵤ, n, S exact int64; each term xᵤ·ln(xᵤ·n/S) takes
    * ONE float-cast ln of the fixed chain CAST(x)·CAST(n)/CAST(S)
    * (x ≥ 1 and n/S ≤ 1 keep the argument in (0, n] — ln(0)
    * impossible), quantized to DECIMAL(18,9) for the associative
    * per-type total, then ONE divide by S. The ceiling ln(n)
    * normalizes: theil_ratio ∈ [0, 1], NULL at n = 1 via nullif
    * (ln(1) = 0 — a single participant has no inequality to measure).
    *
    * Plan: one (type, user) aggregate, a type-bounded moment join,
    * one quantized rollup. No windows, no sorts — the anti-Gini.
    */
  val q303TheilIndex = Q(
    "q303_theil_index",
    """WITH ux AS (
      |  SELECT event_type, user_id, CAST(count(*) AS BIGINT) AS x
      |  FROM events
      |  WHERE user_id IS NOT NULL AND event_type IS NOT NULL
      |  GROUP BY 1, 2
      |),
      |m AS (
      |  SELECT event_type AS m_type, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(x) AS BIGINT) AS s
      |  FROM ux GROUP BY 1
      |),
      |t AS (
      |  SELECT m_type, max(n) AS n, max(s) AS s,
      |    sum(CAST(CAST(x AS DOUBLE)
      |      * CAST(CAST(ln(CAST(x AS DOUBLE) * CAST(n AS DOUBLE)
      |        / CAST(s AS DOUBLE)) AS FLOAT) AS DOUBLE)
      |      AS DECIMAL(18,9))) AS q
      |  FROM ux JOIN m ON m.m_type = ux.event_type
      |  GROUP BY 1
      |)
      |SELECT m_type AS event_type, n AS n_users, s AS n_events,
      |  round(CAST(q AS DOUBLE) / CAST(s AS DOUBLE), 6) AS theil,
      |  round(CAST(q AS DOUBLE) / CAST(s AS DOUBLE)
      |    / nullif(CAST(CAST(ln(CAST(n AS DOUBLE)) AS FLOAT) AS DOUBLE),
      |      CAST(0 AS DOUBLE)), 6) AS theil_ratio
      |FROM t
      |ORDER BY event_type""".stripMargin,
  ) { (s, d) =>
    val ux = Tables.events(s, d)
      .filter(col("user_id").isNotNull && col("event_type").isNotNull)
      .groupBy(col("event_type"), col("user_id"))
      .agg(count(lit(1)).cast("long").as("x"))
    val m = ux.groupBy(col("event_type").as("m_type"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("x")).cast("long").as("s"))
    val t = ux.join(m, col("m_type") === col("event_type"))
      .groupBy(col("m_type"))
      .agg(max(col("n")).as("n"), max(col("s")).as("s"),
        sum(expr("""CAST(CAST(x AS DOUBLE)
          |  * CAST(CAST(ln(CAST(x AS DOUBLE) * CAST(n AS DOUBLE)
          |    / CAST(s AS DOUBLE)) AS FLOAT) AS DOUBLE)
          |  AS DECIMAL(18,9))""".stripMargin)).as("q"))
    t.select(col("m_type").as("event_type"), col("n").as("n_users"),
        col("s").as("n_events"),
        round(expr("CAST(q AS DOUBLE) / CAST(s AS DOUBLE)"), 6)
          .as("theil"),
        round(expr("""CAST(q AS DOUBLE) / CAST(s AS DOUBLE)
          |  / nullif(CAST(CAST(ln(CAST(n AS DOUBLE)) AS FLOAT)
          |    AS DOUBLE), CAST(0 AS DOUBLE))""".stripMargin), 6)
          .as("theil_ratio"))
      .orderBy(col("event_type"))
  }

  /** CUSTOMER REVENUE CONCENTRATION — the orders-side account-risk
    * panel: how much of total revenue does the top decile of customers
    * carry, and what is the Herfindahl of customer shares? The two
    * numbers an account team reads before believing any average — and
    * the q292 HHI device pointed at a DIMENSION (customers) instead of
    * time, which forces the top-k cut through a DESC global rank
    * ([[graft.operators.OrderedBins.rankPar]]) because customers are
    * dimension-bounded, not calendar-bounded.
    *
    * Exactness: per-customer revenue in WHOLE DOLLARS (round of a
    * 2-decimal money double — never a half-dollar tie, §5.7).
    * Ranks descend (rev DESC, custkey); past the device's row threshold
    * through quantile value bins: cross-bin prefix from the TOP over the
    * bin totals, in-bin row_number partitioned by bin. k = ⌈n/10⌉; HHI
    * rides per-customer
    * (10⁴·share²)-quantized DECIMAL(18,9) terms (scaled so 10⁻⁹ quanta
    * keep digits at 10⁵+ customers — the quantization is the spec);
    * the decile share is ratio6Big of exact dollar sums (r16: the
    * q166 quotient/remainder split applied pre-emptively — the inline
    * ratio6 form's 4.6·10¹² numerator line would expire around ×100
    * of the fixture axis in whole dollars; the Big split holds to
    * int64 itself, the r15-VERDICT bound retired before the axis
    * could catch it).
    *
    * Plan: one per-customer aggregate, the device's rank, a 1-row
    * finish. No customer-proportional single-partition sort past the
    * device's row threshold.
    */
  val q304CustomerConcentration = Q(
    "q304_customer_concentration",
    s"""WITH r AS (
      |  SELECT o_custkey,
      |    CAST(sum(CAST(round(o_totalprice) AS BIGINT)) AS BIGINT)
      |      AS rev
      |  FROM orders WHERE o_totalprice IS NOT NULL
      |  GROUP BY 1
      |),
      |t AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(rev) AS BIGINT) AS s
      |  FROM r
      |),
      |rk AS (
      |  SELECT rev,
      |    CAST(row_number() OVER (ORDER BY rev DESC, o_custkey)
      |      AS BIGINT) AS i
      |  FROM r
      |),
      |topk AS (
      |  SELECT CAST(sum(rev) AS BIGINT) AS top_rev
      |  FROM rk CROSS JOIN t
      |  WHERE i <= (t.n + 9) // 10
      |),
      |h AS (
      |  SELECT CAST(sum(CAST(CAST(10000 AS DOUBLE)
      |    * (CAST(rev AS DOUBLE) / CAST(t.s AS DOUBLE))
      |    * (CAST(rev AS DOUBLE) / CAST(t.s AS DOUBLE))
      |    AS DECIMAL(18,9))) AS DOUBLE) AS hhi
      |  FROM r CROSS JOIN t
      |)
      |SELECT t.n AS n_customers, t.s AS total_rev_dollars,
      |  round(h.hhi, 6) AS hhi_points,
      |  ${Exact.Sql.ratio6Big("topk.top_rev", "t.s")}
      |    AS top_decile_share
      |FROM t CROSS JOIN topk CROSS JOIN h
      |WHERE t.n > 0""".stripMargin,
      // WHERE t.n > 0: empty orders → EMPTY output on BOTH engines (the
      // Spark side filters its 1-row total on the same predicate).
      // ratio6Big (r16, the q166 precedent applied PRE-EMPTIVELY): the
      // inline ratio6 form 2·top_rev·10⁶ overflows int64 once top_rev
      // crosses 4.6·10¹² — whole dollars reach that around ×100 of
      // sf0.1. The quotient/remainder split is bit-identical below the
      // line and extends the envelope to num ≤ int64 max.
  ) { (s, d) =>
    val r = Tables.orders(s, d)
      .filter(col("o_totalprice").isNotNull)
      .groupBy(col("o_custkey"))
      .agg(sum(expr("CAST(round(o_totalprice) AS BIGINT)")).cast("long")
        .as("rev"))
      .transform(graft.operators.Iter.pin) // 2 consumers: rank and HHI
    val tot = rankPar(r, "rev", desc = true, Seq("o_custkey"))
      .agg(max(col("nd")).as("n"),
        sum(col("rev")).cast("long").as("s"),
        sum(when(col("i") <= expr("(nd + 9) div 10"), col("rev"))
          .otherwise(0L)).cast("long").as("top_rev"))
      .filter(col("n") > 0)
    tot.select(col("n"), col("s"), col("top_rev"))
      .crossJoin(broadcast(r.crossJoin(broadcast(
          tot.select(col("s").as("h_s"))))
        .agg(sum(expr("""CAST(CAST(10000 AS DOUBLE)
          |  * (CAST(rev AS DOUBLE) / CAST(h_s AS DOUBLE))
          |  * (CAST(rev AS DOUBLE) / CAST(h_s AS DOUBLE))
          |  AS DECIMAL(18,9))""".stripMargin)).cast("double")
          .as("hhi"))))
      .select(col("n").as("n_customers"),
        col("s").as("total_rev_dollars"),
        round(col("hhi"), 6).as("hhi_points"),
        // ratio6Big (r16): see the oracle note — pre-empts the ×100
        // whole-dollar overflow of the inline 2·num·10⁶ form
        Exact.ratio6Big("top_rev", "s").as("top_decile_share"))
  }

  /** ORDER-SIZE DISPERSION — are line items per order Poisson-ish, or
    * do orders clump into small-and-huge? The index of dispersion
    * D = s²/μ over per-order line counts (1 under Poisson, the q288
    * NB-shape question asked of the ORDER stream): the fulfillment
    * capacity model behind batch-size planning, and the first genuine
    * orders⋈lineitem statistical operator now that the axis is
    * measurable (SCALE_r15). Orders with ZERO line items count — the
    * LEFT join zero-fills (an order that shipped nothing is exactly
    * the anomaly D should see, stated).
    *
    * Exactness: per-order counts exact int64; the sample-variance
    * denominators collapse so D = (n·Q − S²)/((n−1)·S) is ONE divide
    * of exact int64s (n·Q ≈ 6·10¹³ at the ×10 axis — inside int64,
    * bound stated), and the χ² companion (n−1)·D = (n·Q − S²)/S the
    * same. n ≤ 1 or S = 0 → NULL via nullif. The p is deliberately
    * unreported (df = n−1 — far past the df=2 closed form, q248
    * stance); D's distance from 1 in units of √(2/(n−1)) is reported
    * instead (the z-ish effect size).
    *
    * Plan: one lineitem count aggregate, one LEFT equi join from
    * orders, one moment rollup. Scan-dominated.
    */
  val q306OrderDispersion = Q(
    "q306_order_dispersion",
    """WITH lc AS (
      |  SELECT l_orderkey, CAST(count(*) AS BIGINT) AS c
      |  FROM lineitem GROUP BY 1
      |),
      |oc AS (
      |  SELECT o.o_orderkey, COALESCE(lc.c, 0) AS c
      |  FROM orders o LEFT JOIN lc ON lc.l_orderkey = o.o_orderkey
      |),
      |m AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(c) AS BIGINT) AS s,
      |    CAST(sum(c * c) AS BIGINT) AS q,
      |    CAST(max(c) AS BIGINT) AS mx
      |  FROM oc
      |)
      |SELECT n AS n_orders, s AS n_lineitems, mx AS max_items,
      |  round(CAST(s AS DOUBLE) / nullif(CAST(n AS DOUBLE), 0.0), 6)
      |    AS mean_items,
      |  round(CAST(n * q - s * s AS DOUBLE)
      |    / nullif(CAST((n - 1) * s AS DOUBLE), CAST(0 AS DOUBLE)),
      |    6) AS dispersion,
      |  CASE WHEN n >= 2 THEN
      |    round((CAST(n * q - s * s AS DOUBLE)
      |        / nullif(CAST((n - 1) * s AS DOUBLE), CAST(0 AS DOUBLE))
      |        - CAST(1 AS DOUBLE))
      |      / sqrt(CAST(2 AS DOUBLE) / CAST(n - 1 AS DOUBLE)), 6)
      |    END AS excess_sigmas
      |FROM m""".stripMargin,
  ) { (s, d) =>
    val lc = Tables.lineitem(s, d)
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).cast("long").as("c"))
    val oc = Tables.orders(s, d).select(col("o_orderkey"))
      .join(lc, col("l_orderkey") === col("o_orderkey"), "left")
      .select(coalesce(col("c"), lit(0L)).as("c"))
    val m = oc.agg(count(lit(1)).cast("long").as("n"),
      sum(col("c")).cast("long").as("s"),
      sum(col("c") * col("c")).cast("long").as("q"),
      max(col("c")).cast("long").as("mx"))
    val disp = expr("""CAST(n * q - s * s AS DOUBLE)
      |  / nullif(CAST((n - 1) * s AS DOUBLE), CAST(0 AS DOUBLE))"""
      .stripMargin)
    // empty corpus (n = 0): NULL mean, NULL sigmas on BOTH engines —
    // DuckDB ERRORS on sqrt(2/(n-1)) = sqrt(-2) and ANSI on the bare
    // 0-divide; n >= 2 states the variance precondition (r17 audit)
    m.select(col("n").as("n_orders"), col("s").as("n_lineitems"),
      col("mx").as("max_items"),
      round(expr("CAST(s AS DOUBLE) / nullif(CAST(n AS DOUBLE), 0.0D)"),
        6).as("mean_items"),
      round(disp, 6).as("dispersion"),
      when(col("n") >= 2,
        round((disp - lit(1.0)) /
          sqrt(lit(2.0) / expr("CAST(n - 1 AS DOUBLE)")), 6))
        .as("excess_sigmas"))
  }

  /** WILCOXON SIGNED-RANK — the PAIRED companion to q207's
    * Mann–Whitney and the nonparametric twin of q298's McNemar (which
    * sees only the binary flip): did each user's SPEND change between
    * the calendar halves? Pairs are (first-half cents, second-half
    * cents) per user; zero differences are EXCLUDED (the classical
    * convention — a user who spent identically carries no direction,
    * stated); W⁺ = Σ ranks of positive differences under the
    * (|diff|, user_id) deterministic total order (the q260/q213 tie
    * device replacing midranks, stated).
    *
    * Exactness: per-user half-sums and diffs exact int64 cents; the
    * span midpoint is q298's 2-scalar probe; the |diff| rank is
    * [[graft.operators.OrderedBins.rankPar]] (past its row threshold the
    * rank never touches a partition-free N-row window); with
    * E = n(n+1)/4 and Var = n(n+1)(2n+1)/24, z² = 3·(4W⁺ − n(n+1))² /
    * (2·n(n+1)(2n+1)) with the squared numerator in PER-FACTOR DOUBLES
    * (4W⁺ ≤ 2n² ≈ 8·10¹⁰ at the ×10 axis — its square passes int64,
    * the q260 route); n = 0 → empty, Var degeneracy impossible at
    * n ≥ 1. χ²₁ verdict at 3.8415 as a nullable STRING (§5.7).
    *
    * Plan: one per-user aggregate, the device's rank, a 1-row finish.
    */
  val q309WilcoxonSignedRank = Q(
    "q309_wilcoxon_signed_rank",
    """WITH e AS (
      |  SELECT user_id,
      |    CAST(round(100 * value) AS BIGINT) AS cents,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS us
      |  FROM events
      |  WHERE ts IS NOT NULL AND user_id IS NOT NULL
      |    AND value IS NOT NULL
      |),
      |m AS (SELECT (min(us) + max(us)) // 2 AS mid FROM e),
      |u AS (
      |  SELECT user_id,
      |    CAST(sum(CASE WHEN us > (SELECT mid FROM m) THEN cents
      |      ELSE -cents END) AS BIGINT) AS diff
      |  FROM e GROUP BY 1
      |),
      |nz AS (SELECT user_id, diff, abs(diff) AS ad FROM u
      |       WHERE diff <> 0),
      |rk AS (
      |  SELECT diff,
      |    CAST(row_number() OVER (ORDER BY ad, user_id) AS BIGINT) AS r
      |  FROM nz
      |),
      |w AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(CASE WHEN diff > 0 THEN r ELSE 0 END) AS BIGINT)
      |      AS wplus
      |  FROM rk
      |)
      |SELECT n AS n_pairs, wplus AS w_plus,
      |  round(CAST(n * (n + 1) AS DOUBLE) / CAST(4 AS DOUBLE), 6)
      |    AS expected,
      |  round(CAST(3 AS DOUBLE)
      |    * CAST(4 * wplus - n * (n + 1) AS DOUBLE)
      |    * CAST(4 * wplus - n * (n + 1) AS DOUBLE)
      |    / nullif(CAST(2 AS DOUBLE) * CAST(n AS DOUBLE)
      |      * CAST(n + 1 AS DOUBLE) * CAST(2 * n + 1 AS DOUBLE),
      |      CAST(0 AS DOUBLE)), 6) AS z2,
      |  CASE WHEN n = 0 THEN NULL
      |    WHEN CAST(3 AS DOUBLE)
      |      * CAST(4 * wplus - n * (n + 1) AS DOUBLE)
      |      * CAST(4 * wplus - n * (n + 1) AS DOUBLE)
      |      / (CAST(2 AS DOUBLE) * CAST(n AS DOUBLE)
      |        * CAST(n + 1 AS DOUBLE) * CAST(2 * n + 1 AS DOUBLE))
      |      > 3.8415 THEN 'shifted' ELSE 'stable' END AS verdict
      |FROM w
      |WHERE EXISTS (SELECT 1 FROM events
      |  WHERE ts IS NOT NULL AND user_id IS NOT NULL
      |    AND value IS NOT NULL)""".stripMargin,
      // EXISTS guard = the Spark side's min/max probe: an EMPTY corpus
      // yields EMPTY output on BOTH engines (r15 ADVICE), while the
      // all-tied-pairs corpus (usable events but zero nonzero diffs)
      // KEEPS its pinned n = 0 / NULL-verdict row (EdgeEventsSpec).
  ) { (s, d) =>
    val e = Tables.events(s, d)
      .filter(col("ts").isNotNull && col("user_id").isNotNull
        && col("value").isNotNull)
      .select(col("user_id"),
        expr("CAST(round(100 * value) AS BIGINT)").as("cents"),
        expr("unix_micros(ts)").as("us"))
      .transform(graft.operators.Iter.pin) // 2 consumers: the midpoint probe and the walk
    val mm = e.agg(min(col("us")), max(col("us"))).head
    if (mm.isNullAt(0)) {
      e.sparkSession.emptyDataFrame
        .selectExpr("CAST(0 AS BIGINT) AS n_pairs",
          "CAST(0 AS BIGINT) AS w_plus",
          "CAST(NULL AS DOUBLE) AS expected",
          "CAST(NULL AS DOUBLE) AS z2",
          "CAST(NULL AS STRING) AS verdict")
        .limit(0)
    } else {
      val mid = Math.floorDiv(mm.getLong(0) + mm.getLong(1), 2L)
      val nz = e.groupBy(col("user_id"))
        .agg(sum(when(col("us") > mid, col("cents"))
          .otherwise(-col("cents"))).cast("long").as("diff"))
        .filter(col("diff") =!= 0L)
        .select(col("user_id"), col("diff"), abs(col("diff")).as("ad"))
      val rk = rankPar(nz, "ad", desc = false, Seq("user_id"))
        .select(col("diff"), col("i").as("r"))
      val w = rk.agg(count(lit(1)).cast("long").as("n"),
        sum(when(col("diff") > 0, col("r")).otherwise(0L)).cast("long")
          .as("wplus"))
      val z2 = expr("""CAST(3 AS DOUBLE)
        |  * CAST(4 * wplus - n * (n + 1) AS DOUBLE)
        |  * CAST(4 * wplus - n * (n + 1) AS DOUBLE)
        |  / nullif(CAST(2 AS DOUBLE) * CAST(n AS DOUBLE)
        |    * CAST(n + 1 AS DOUBLE) * CAST(2 * n + 1 AS DOUBLE),
        |    CAST(0 AS DOUBLE))""".stripMargin)
      w.select(col("n").as("n_pairs"), col("wplus").as("w_plus"),
        round(expr("CAST(n * (n + 1) AS DOUBLE) / CAST(4 AS DOUBLE)"),
          6).as("expected"),
        round(z2, 6).as("z2"),
        when(col("n") === 0, lit(null).cast("string"))
          .when(z2 > 3.8415, lit("shifted"))
          .otherwise(lit("stable")).as("verdict"))
    }
  }

  /** PAIRWISE TYPE-VOLUME SPEARMAN — do event types move TOGETHER day
    * over day? The rank correlation of every type pair's zero-filled
    * daily volumes: near +1 pairs share a driver (one campaign moves
    * both — a composite metric is defensible, the q301 question asked
    * pairwise), near −1 pairs substitute. Rank-based, so one viral
    * day cannot fake the correlation q220's Pearson would report.
    *
    * Exactness: per-type daily ranks over the SHARED global day grid
    * under the (count, day) deterministic total order — every type's
    * ranks are a FULL PERMUTATION of 1..m (the q302 device), so
    * ρ = 1 − 6Σd²/(m(m²−1)) is the exact no-tie closed form: ALL
    * integer (Σd² ≤ m³/3 ≈ 10⁷ at month spans) into ONE divide.
    * m = 1 → NULL via nullif (m²−1 = 0). Type pairs s1 < s2 (stated).
    *
    * Plan: one (type, day) aggregate, the q302 grid + per-day... per-
    * TYPE rank windows (calendar-bounded partitions), one day-keyed
    * equi pair join (k²-bounded fan), a pair rollup. No cartesian.
    */
  val q310TypeVolumeSpearman = Q(
    "q310_type_volume_spearman",
    """WITH dc AS (
      |  SELECT event_type,
      |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
      |    CAST(count(*) AS BIGINT) AS cnt
      |  FROM events
      |  WHERE ts IS NOT NULL AND event_type IS NOT NULL
      |  GROUP BY 1, 2
      |),
      |b AS (SELECT min(day) AS d0, max(day) AS d1 FROM dc),
      |types AS (SELECT DISTINCT event_type FROM dc),
      |grid AS (
      |  SELECT t.event_type, gs.day
      |  FROM types t, b, LATERAL (SELECT
      |    unnest(generate_series(b.d0, b.d1)) AS day) gs
      |),
      |z AS (
      |  SELECT g.event_type, g.day, COALESCE(dc.cnt, 0) AS c
      |  FROM grid g LEFT JOIN dc
      |    ON dc.event_type = g.event_type AND dc.day = g.day
      |),
      |rk AS (
      |  SELECT event_type, day,
      |    CAST(row_number() OVER (PARTITION BY event_type
      |      ORDER BY c, day) AS BIGINT) AS r
      |  FROM z
      |),
      |pr AS (
      |  SELECT a.event_type AS type_a, b2.event_type AS type_b,
      |    CAST(count(*) AS BIGINT) AS m,
      |    CAST(sum((a.r - b2.r) * (a.r - b2.r)) AS BIGINT) AS sd2
      |  FROM rk a JOIN rk b2
      |    ON a.day = b2.day AND a.event_type < b2.event_type
      |  GROUP BY 1, 2
      |)
      |SELECT type_a, type_b, m AS n_days,
      |  round(CAST(1 AS DOUBLE) - CAST(6 * sd2 AS DOUBLE)
      |    / nullif(CAST(m * (m * m - 1) AS DOUBLE), CAST(0 AS DOUBLE)),
      |    6) AS spearman_rho
      |FROM pr
      |ORDER BY type_a, type_b""".stripMargin,
  ) { (s, d) =>
    val dc = Tables.events(s, d)
      .filter(col("ts").isNotNull && col("event_type").isNotNull)
      .select(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("day"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).cast("long").as("cnt"))
      .transform(graft.operators.Iter.pin) // 3 consumers: bounds, types, the grid join
    val b = dc.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    val types = dc.select(col("event_type").as("g_type")).distinct()
    val grid = types.crossJoin(broadcast(b))
      .select(col("g_type"), col("d0"),
        explode(sequence(lit(0L), col("d1") - col("d0"))).as("t"))
      .select(col("g_type"), (col("d0") + col("t")).as("day"))
    val z = grid.join(dc,
        col("g_type") === dc("event_type") && dc("day") === grid("day"),
        "left")
      .select(col("g_type").as("event_type"), grid("day"),
        coalesce(col("cnt"), lit(0L)).as("c"))
    val rk = z.select(col("event_type"), col("day"),
        row_number().over(Window.partitionBy(col("event_type"))
          .orderBy(col("c"), col("day"))).cast("long").as("r"))
      .transform(graft.operators.Iter.pin) // 2 consumers: both sides of the pair join
    val rkb = rk.select(col("event_type").as("type_b"),
      col("day").as("day_b"), col("r").as("rb"))
    rk.join(rkb, col("day") === col("day_b")
        && col("event_type") < col("type_b"))
      .groupBy(col("event_type").as("type_a"), col("type_b"))
      .agg(count(lit(1)).cast("long").as("m"),
        sum((col("r") - col("rb")) * (col("r") - col("rb")))
          .cast("long").as("sd2"))
      .select(col("type_a"), col("type_b"), col("m").as("n_days"),
        round(lit(1.0) - expr("CAST(6 * sd2 AS DOUBLE)") /
          nullif(expr("CAST(m * (m * m - 1) AS DOUBLE)"), lit(0.0)),
          6).as("spearman_rho"))
      .orderBy(col("type_a"), col("type_b"))
  }

  /** PART SIZE–PRICE CORRELATION — does physical size drive price in
    * the catalog? Exact-moment Pearson r plus the OLS slope
    * (cents/size-unit) over the part table: the pricing-sanity check a
    * catalog team runs after every load, and the part table's first
    * dedicated statistical operator (the genscale axis now measures
    * it). r near 0 with a structured catalog = the price column is
    * decoupled from the physical attribute (a data-quality smell).
    *
    * Exactness: x = p_size (int), y = exact cents; the six moments
    * exact int64; the covariance numerator n·Σxy − ΣxΣy and the SIZE
    * variance n·Σx² − (Σx)² stay exact int64 (≈ 4·10¹⁷ / 10¹⁴ at the
    * ×10 axis), but the PRICE variance goes per-factor DOUBLES
    * (n·Σy² ≈ 1.6·10²¹ overflowed int64 the moment the part table
    * gained its ×10 axis — hit live, the q166/§5.7 class; the
    * subtraction is deterministic identical chains both engines);
    * r = cov/(√varx·√vary) with the sqrts taken separately, slope ONE
    * divide. Constant size or constant price → NULL r via nullif;
    * n ≤ 1 → empty.
    *
    * Plan: one scan, one 1-row moment aggregate. Nothing else.
    */
  val q312SizePriceCorr = Q(
    "q312_size_price_corr",
    """WITH v AS (
      |  SELECT CAST(p_size AS BIGINT) AS x,
      |    CAST(round(100 * p_retailprice) AS BIGINT) AS y
      |  FROM part
      |  WHERE p_size IS NOT NULL AND p_retailprice IS NOT NULL
      |),
      |m AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
      |    CAST(sum(x * y) AS BIGINT) AS sxy,
      |    CAST(sum(x * x) AS BIGINT) AS sxx,
      |    CAST(sum(y * y) AS BIGINT) AS syy
      |  FROM v
      |)
      |SELECT n AS n_parts,
      |  round(CAST(n * sxy - sx * sy AS DOUBLE)
      |    / nullif(sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
      |      * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
      |        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)),
      |      CAST(0 AS DOUBLE)), 6) AS pearson_r,
      |  round(CAST(n * sxy - sx * sy AS DOUBLE)
      |    / nullif(CAST(n * sxx - sx * sx AS DOUBLE),
      |      CAST(0 AS DOUBLE)) / CAST(100 AS DOUBLE), 6)
      |    AS dollars_per_size_unit
      |FROM m WHERE n > 1""".stripMargin,
  ) { (s, d) =>
    val v = Tables.part(s, d)
      .filter(col("p_size").isNotNull && col("p_retailprice").isNotNull)
      .select(col("p_size").cast("long").as("x"),
        expr("CAST(round(100 * p_retailprice) AS BIGINT)").as("y"))
    val m = v.agg(count(lit(1)).cast("long").as("n"),
      sum(col("x")).cast("long").as("sx"),
      sum(col("y")).cast("long").as("sy"),
      sum(col("x") * col("y")).cast("long").as("sxy"),
      sum(col("x") * col("x")).cast("long").as("sxx"),
      sum(col("y") * col("y")).cast("long").as("syy"))
    m.filter(col("n") > 1)
      .select(col("n").as("n_parts"),
        round(expr("""CAST(n * sxy - sx * sy AS DOUBLE)
          |  / nullif(sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
          |    * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
          |      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)),
          |    CAST(0 AS DOUBLE))""".stripMargin), 6).as("pearson_r"),
        round(expr("""CAST(n * sxy - sx * sy AS DOUBLE)
          |  / nullif(CAST(n * sxx - sx * sx AS DOUBLE),
          |    CAST(0 AS DOUBLE)) / CAST(100 AS DOUBLE)"""
          .stripMargin), 6).as("dollars_per_size_unit"))
  }

  /** NATION REVENUE SHARE — the supply-side concentration readout
    * beside q304's customer panel: discounted lineitem revenue per
    * SUPPLIER nation with each nation's share of the total, the
    * geographic-risk number a sourcing team reads before any
    * single-region commitment. q143 answers this for one region and a
    * date window; this is the unconditional full-table mix.
    *
    * Exactness: revenue rides the house exact dsum (long fixed-point,
    * order-free); the SHARE goes back through EXACT integers — each
    * nation's revenue rounds to whole dollars (identical doubles both
    * engines; never a half-dollar tie on computed discount products,
    * the q304 stance), the total is an exact int64 window sum over
    * ≤25 nation rows, and ratio6 does the 6-decimal rounding (totals
    * ≈ 6·10¹¹ dollars at the ×10 axis — inside ratio6's line to
    * ~×100, stated). No double is ever summed across nations.
    *
    * Plan: lineitem ⋈ broadcast(supplier ⋈ nation), one hash
    * aggregate, a ≤25-row window finish. One lineitem scan.
    */
  val q313NationRevenueShare = Q(
    "q313_nation_revenue_share",
    s"""WITH r AS (
      |  SELECT n.n_name,
      |    ${graft.functions.Exact.Sql.dsum(
           "l.l_extendedprice * (1.0 - l.l_discount)")} AS revenue,
      |    CAST(count(*) AS BIGINT) AS n_lines
      |  FROM lineitem l
      |  JOIN supplier s ON s.s_suppkey = l.l_suppkey
      |  JOIN nation n ON n.n_nationkey = s.s_nationkey
      |  GROUP BY 1
      |),
      |d AS (
      |  SELECT n_name, revenue, n_lines,
      |    CAST(round(revenue) AS BIGINT) AS rd,
      |    CAST(sum(CAST(round(revenue) AS BIGINT)) OVER () AS BIGINT)
      |      AS td
      |  FROM r
      |)
      |SELECT n_name, revenue, n_lines,
      |  ${graft.functions.Exact.Sql.ratio6Big("rd", "td")} AS rev_share
      |FROM d
      |ORDER BY n_name NULLS FIRST""".stripMargin,
  ) { (s, d) =>
    val dims = broadcast(Tables.supplier(s, d)
      .join(Tables.nation(s, d),
        col("n_nationkey") === col("s_nationkey")))
    val r = Tables.lineitem(s, d)
      .join(dims, col("s_suppkey") === col("l_suppkey"))
      .groupBy(col("n_name"))
      .agg(graft.functions.Exact.dsum(
          col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("revenue"),
        count(lit(1)).cast("long").as("n_lines"))
    val dd = r.select(col("n_name"), col("revenue"), col("n_lines"),
      expr("CAST(round(revenue) AS BIGINT)").as("rd"))
      .withColumn("td",
        sum(col("rd")).over(Window.partitionBy()).cast("long"))
    dd.select(col("n_name"), col("revenue"), col("n_lines"),
        graft.functions.Exact.ratio6Big("rd", "td")
          .as("rev_share")) // Big: whole-dollar revenue sums (r16 audit)
      .orderBy(col("n_name"))
  }

  /** SOURCE–LANGUAGE MIX — the q293 contingency machinery pointed at
    * the documents catalog: sources × languages χ² + Cramér's V, the
    * corpus-composition audit run before any per-language quality
    * number is trusted (a source that is secretly 90% one language
    * biases every "multilingual" claim downstream of q38's langid).
    *
    * Exactness: q293 verbatim — integer-cleared cell terms
    * (N·O − R·C)² in per-factor doubles quantized DECIMAL(18,9), V
    * one fixed chain with the min(r−1, c−1) denominator
    * nullif-guarded on BOTH engines AT BIRTH (the q293 ADVICE lesson
    * applied forward); p unreported (df > 2, q248 stance).
    *
    * Plan: one (source, lang) cell aggregate with window margins, a
    * cell-bounded finish. One scan of documents.
    */
  val q314SourceLanguageMix = Q(
    "q314_source_language_mix",
    """WITH cell AS (
      |  SELECT source, lang, CAST(count(*) AS BIGINT) AS o
      |  FROM documents
      |  WHERE source IS NOT NULL AND lang IS NOT NULL
      |  GROUP BY 1, 2
      |),
      |m AS (
      |  SELECT source, lang, o,
      |    CAST(sum(o) OVER (PARTITION BY source) AS BIGINT) AS r,
      |    CAST(sum(o) OVER (PARTITION BY lang) AS BIGINT) AS c,
      |    CAST(sum(o) OVER () AS BIGINT) AS nn,
      |    CAST(count(DISTINCT lang) OVER () AS BIGINT) AS ncol
      |  FROM cell
      |),
      |terms AS (
      |  SELECT source, lang, o, r, c, nn, ncol,
      |    CAST((CAST(nn AS DOUBLE) * CAST(o AS DOUBLE)
      |        - CAST(r AS DOUBLE) * CAST(c AS DOUBLE))
      |      * (CAST(nn AS DOUBLE) * CAST(o AS DOUBLE)
      |        - CAST(r AS DOUBLE) * CAST(c AS DOUBLE))
      |      / (CAST(nn AS DOUBLE) * CAST(r AS DOUBLE)
      |        * CAST(c AS DOUBLE)) AS DECIMAL(18,9)) AS t
      |  FROM m
      |),
      |chi AS (
      |  SELECT CAST(sum(t) AS DOUBLE) AS chi2,
      |    max(nn) AS nn, max(ncol) AS ncol,
      |    CAST(count(DISTINCT source) AS BIGINT) AS nrow
      |  FROM terms
      |)
      |SELECT source, lang, o AS n_docs,
      |  round(CAST(o AS DOUBLE) / CAST(r AS DOUBLE), 6)
      |    AS source_share,
      |  round(chi.chi2, 6) AS chi2,
      |  round(sqrt(chi.chi2 / nullif(CAST(chi.nn AS DOUBLE)
      |    * CAST(least(chi.nrow - 1, chi.ncol - 1) AS DOUBLE),
      |    CAST(0 AS DOUBLE))), 6) AS cramers_v
      |FROM terms CROSS JOIN chi
      |ORDER BY source, lang""".stripMargin,
  ) { (s, d) =>
    val cell = Tables.documents(s, d)
      .filter(col("source").isNotNull && col("lang").isNotNull)
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).cast("long").as("o"))
    val m = cell.select(col("source"), col("lang"), col("o"),
      sum(col("o")).over(Window.partitionBy(col("source"))).cast("long")
        .as("r"),
      sum(col("o")).over(Window.partitionBy(col("lang"))).cast("long")
        .as("c"),
      sum(col("o")).over(Window.partitionBy()).cast("long").as("nn"),
      size(collect_set(col("lang")).over(Window.partitionBy()))
        .cast("long").as("ncol"))
    val terms = m.withColumn("t", expr(
      """CAST((CAST(nn AS DOUBLE) * CAST(o AS DOUBLE)
        |    - CAST(r AS DOUBLE) * CAST(c AS DOUBLE))
        |  * (CAST(nn AS DOUBLE) * CAST(o AS DOUBLE)
        |    - CAST(r AS DOUBLE) * CAST(c AS DOUBLE))
        |  / (CAST(nn AS DOUBLE) * CAST(r AS DOUBLE)
        |    * CAST(c AS DOUBLE)) AS DECIMAL(18,9))""".stripMargin))
      .transform(graft.operators.Iter.pin) // 2 consumers: the chi frame and the rows
    val chi = terms.agg(
      sum(col("t")).cast("double").as("chi2"),
      max(col("nn")).as("c_nn"), max(col("ncol")).as("c_ncol"),
      countDistinct(col("source")).cast("long").as("nrow"))
    terms.crossJoin(broadcast(chi))
      .select(col("source"), col("lang"), col("o").as("n_docs"),
        round(expr("CAST(o AS DOUBLE) / CAST(r AS DOUBLE)"), 6)
          .as("source_share"),
        round(col("chi2"), 6).as("chi2"),
        round(sqrt(col("chi2") /
          nullif(col("c_nn").cast("double") *
            least(col("nrow") - 1, col("c_ncol") - 1).cast("double"),
            lit(0.0))),
          6).as("cramers_v"))
      .orderBy(col("source"), col("lang"))
  }

  /** USER-ACTIVITY PERCENTILES — the exact p50/p90/p99 of events per
    * user, SORT-FREE: per-user counts collapse into VALUE RUNS
    * (distinct activity levels — hundreds of runs for millions of
    * users), the cumulative walks the run table, and each k-th order
    * statistic (k = ⌈q·n⌉, the q54 discrete convention) reads off the
    * run interval that covers its rank. The "what does a normal user
    * look like vs the p99 power user" panel — the distributional
    * companion to q303's one-number Theil.
    *
    * Exactness: pure integer counting end to end; the run cumulative
    * is a window over the RUN table (value-cardinality-bounded, never
    * user-proportional — the q166 run discipline without even needing
    * bins); k from the exact ⌈n·q⌉ integer form. Empty corpus →
    * empty. The p99/p50 concentration ratio rides ratio6.
    *
    * Plan: one per-user aggregate, one run aggregate, one tiny run
    * window, a conditional-min finish. No sort touches user rows.
    */
  val q315UserActivityPercentiles = Q(
    "q315_user_activity_percentiles",
    s"""WITH u AS (
      |  SELECT user_id, CAST(count(*) AS BIGINT) AS x
      |  FROM events WHERE user_id IS NOT NULL GROUP BY 1
      |),
      |runs AS (
      |  SELECT x, CAST(count(*) AS BIGINT) AS cnt FROM u GROUP BY 1
      |),
      |cum AS (
      |  SELECT x, cnt,
      |    CAST(sum(cnt) OVER (ORDER BY x
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - cnt
      |      AS BIGINT) AS s,
      |    CAST(sum(cnt) OVER () AS BIGINT) AS n
      |  FROM runs
      |),
      |k AS (
      |  SELECT x, cnt, s, n,
      |    (n * 500000 + 999999) // 1000000 AS k50,
      |    (n * 900000 + 999999) // 1000000 AS k90,
      |    (n * 990000 + 999999) // 1000000 AS k99
      |  FROM cum
      |),
      |f AS (
      |  SELECT max(n) AS n,
      |    min(CASE WHEN s < k50 AND k50 <= s + cnt THEN x END) AS p50,
      |    min(CASE WHEN s < k90 AND k90 <= s + cnt THEN x END) AS p90,
      |    min(CASE WHEN s < k99 AND k99 <= s + cnt THEN x END) AS p99
      |  FROM k
      |)
      |SELECT n AS n_users, p50 AS p50_events, p90 AS p90_events,
      |  p99 AS p99_events,
      |  ${graft.functions.Exact.Sql.ratio6("p99", "p50")}
      |    AS p99_to_p50
      |FROM f WHERE n IS NOT NULL""".stripMargin,
  ) { (s, d) =>
    val runs = Tables.events(s, d)
      .filter(col("user_id").isNotNull)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).cast("long").as("x"))
      .groupBy(col("x"))
      .agg(count(lit(1)).cast("long").as("cnt"))
    val cum = runs.select(col("x"), col("cnt"),
      (sum(col("cnt")).over(Window.orderBy(col("x"))
        .rowsBetween(Window.unboundedPreceding, 0)) - col("cnt"))
        .cast("long").as("s"),
      sum(col("cnt")).over(Window.partitionBy()).cast("long").as("n"))
    val k = cum.select(col("x"), col("cnt"), col("s"), col("n"),
      expr("(n * 500000 + 999999) div 1000000").as("k50"),
      expr("(n * 900000 + 999999) div 1000000").as("k90"),
      expr("(n * 990000 + 999999) div 1000000").as("k99"))
    k.agg(max(col("n")).as("n"),
        min(when(col("s") < col("k50")
          && col("k50") <= col("s") + col("cnt"), col("x"))).as("p50"),
        min(when(col("s") < col("k90")
          && col("k90") <= col("s") + col("cnt"), col("x"))).as("p90"),
        min(when(col("s") < col("k99")
          && col("k99") <= col("s") + col("cnt"), col("x"))).as("p99"))
      .filter(col("n").isNotNull)
      .select(col("n").as("n_users"), col("p50").as("p50_events"),
        col("p90").as("p90_events"), col("p99").as("p99_events"),
        graft.functions.Exact.ratio6("p99", "p50").as("p99_to_p50"))
  }

  /** INTER-EVENT GAP PERCENTILE PROFILE — the exact p50/p95/p99 of
    * per-type gap seconds, the ORDER-STATISTICS companion to q296's
    * moment-based burstiness (a heavy tail shows up as p99/p50
    * exploding long before the mean moves — and unlike B, the
    * percentiles say WHERE the mass sits for timeout tuning). Same
    * sort-free run discipline as q315, partitioned per type.
    *
    * Exactness: gaps in whole seconds off the (us, event_id) order
    * (q266's device); runs per (type, gap) exact int64; per-type run
    * cumulatives are windows over run tables (gap-cardinality-
    * bounded); k = ⌈q·m⌉ exact; the tail ratio rides ratio6 with
    * nullif (an all-sub-second type has p50 = 0 → NULL ratio,
    * stated). Types with no gaps emit nothing.
    *
    * Plan: one lag window (row-proportional scan — the gap
    * computation itself), one run aggregate, tiny per-type windows,
    * a conditional-min finish per type.
    */
  val q317GapPercentiles = Q(
    "q317_gap_percentiles",
    s"""WITH e AS (
      |  SELECT event_type, event_id,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS us
      |  FROM events
      |  WHERE ts IS NOT NULL AND event_type IS NOT NULL
      |),
      |gaps AS (
      |  SELECT event_type,
      |    (us - lag(us) OVER (PARTITION BY event_type
      |      ORDER BY us, event_id)) // 1000000 AS g
      |  FROM e
      |),
      |runs AS (
      |  SELECT event_type, g, CAST(count(*) AS BIGINT) AS cnt
      |  FROM gaps WHERE g IS NOT NULL GROUP BY 1, 2
      |),
      |cum AS (
      |  SELECT event_type, g, cnt,
      |    CAST(sum(cnt) OVER (PARTITION BY event_type ORDER BY g
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - cnt
      |      AS BIGINT) AS s,
      |    CAST(sum(cnt) OVER (PARTITION BY event_type) AS BIGINT) AS m
      |  FROM runs
      |),
      |k AS (
      |  SELECT event_type, g, cnt, s, m,
      |    (m * 500000 + 999999) // 1000000 AS k50,
      |    (m * 950000 + 999999) // 1000000 AS k95,
      |    (m * 990000 + 999999) // 1000000 AS k99
      |  FROM cum
      |),
      |f AS (
      |  SELECT event_type, max(m) AS m,
      |    min(CASE WHEN s < k50 AND k50 <= s + cnt THEN g END) AS p50,
      |    min(CASE WHEN s < k95 AND k95 <= s + cnt THEN g END) AS p95,
      |    min(CASE WHEN s < k99 AND k99 <= s + cnt THEN g END) AS p99
      |  FROM k GROUP BY 1
      |)
      |SELECT event_type, m AS n_gaps, p50 AS p50_s, p95 AS p95_s,
      |  p99 AS p99_s,
      |  ${graft.functions.Exact.Sql.ratio6("p99", "p50")}
      |    AS p99_to_p50
      |FROM f
      |ORDER BY event_type""".stripMargin,
  ) { (s, d) =>
    // r16: scale-parallel gap stage (see OrderedBins.typeGapsCarry)
    val gaps = typeGapsCarry(Tables.events(s, d)
      .filter(col("ts").isNotNull && col("event_type").isNotNull)
      .select(col("event_type"), col("event_id"),
        expr("unix_micros(ts)").as("us")))
      .select(col("event_type"), expr("gp div 1000000").as("g"))
    val runs = gaps.groupBy(col("event_type"), col("g"))
      .agg(count(lit(1)).cast("long").as("cnt"))
    val wCum = Window.partitionBy(col("event_type")).orderBy(col("g"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val cum = runs.select(col("event_type"), col("g"), col("cnt"),
      (sum(col("cnt")).over(wCum) - col("cnt")).cast("long").as("s"),
      sum(col("cnt")).over(Window.partitionBy(col("event_type")))
        .cast("long").as("m"))
    val k = cum.select(col("event_type"), col("g"), col("cnt"),
      col("s"), col("m"),
      expr("(m * 500000 + 999999) div 1000000").as("k50"),
      expr("(m * 950000 + 999999) div 1000000").as("k95"),
      expr("(m * 990000 + 999999) div 1000000").as("k99"))
    k.groupBy(col("event_type"))
      .agg(max(col("m")).as("m"),
        min(when(col("s") < col("k50")
          && col("k50") <= col("s") + col("cnt"), col("g"))).as("p50"),
        min(when(col("s") < col("k95")
          && col("k95") <= col("s") + col("cnt"), col("g"))).as("p95"),
        min(when(col("s") < col("k99")
          && col("k99") <= col("s") + col("cnt"), col("g"))).as("p99"))
      .select(col("event_type"), col("m").as("n_gaps"),
        col("p50").as("p50_s"), col("p95").as("p95_s"),
        col("p99").as("p99_s"),
        graft.functions.Exact.ratio6("p99", "p50").as("p99_to_p50"))
      .orderBy(col("event_type"))
  }

  /** SHIPPING-DELAY PERCENTILES PER PRIORITY — the fulfillment-SLA
    * panel: exact p50/p95 of the order→ship lag in whole days per
    * o_orderpriority, plus the exact mean. A priority class whose p95
    * blows out while its p50 holds is queueing, not slow — the
    * order-statistics readout q306's dispersion moment cannot localize,
    * and the first orders⋈lineitem operator at the DELAY grain.
    *
    * Exactness: both dates are midnight TIMESTAMPs; delay = epoch-day
    * difference (epoch_us div 86400000000, ts ≥ 1970 precondition —
    * 1990s fixture dates, §5.7) in exact int64 whole days; percentiles
    * ride the q315 value-run device partitioned by priority (runs over
    * DISTINCT delay values — days are heavily tied, so the run table is
    * tiny); the mean is ratio6Big of the exact day sum (row-proportional
    * value sum — the r16 audit class, Big from birth).
    *
    * Plan: one orderkey equi join, one (priority, delay) hash
    * aggregate, windows over the run-sized frame. Five priority
    * classes; nothing row-proportional after the first aggregate.
    */
  val q322ShippingDelay = Q(
    "q322_shipping_delay",
    s"""WITH d AS (
      |  SELECT o.o_orderpriority AS priority,
      |    epoch_us(CAST(l.l_shipdate AS TIMESTAMP)) // 86400000000
      |      - epoch_us(CAST(o.o_orderdate AS TIMESTAMP)) // 86400000000
      |      AS delay
      |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  WHERE l.l_shipdate IS NOT NULL AND o.o_orderdate IS NOT NULL
      |),
      |runs AS (
      |  SELECT priority, delay, CAST(count(*) AS BIGINT) AS cnt,
      |    CAST(sum(delay) AS BIGINT) AS dsum
      |  FROM d GROUP BY 1, 2
      |),
      |cum AS (
      |  SELECT priority, delay, cnt,
      |    sum(cnt) OVER (PARTITION BY priority ORDER BY delay
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - cnt AS s,
      |    CAST(sum(cnt) OVER (PARTITION BY priority) AS BIGINT) AS n,
      |    CAST(sum(dsum) OVER (PARTITION BY priority) AS BIGINT) AS tot
      |  FROM runs
      |),
      |k AS (
      |  SELECT priority, delay, cnt, s, n, tot,
      |    (n * 500000 + 999999) // 1000000 AS k50,
      |    (n * 950000 + 999999) // 1000000 AS k95
      |  FROM cum
      |)
      |SELECT priority, max(n) AS n_lines,
      |  min(CASE WHEN s < k50 AND k50 <= s + cnt THEN delay END)
      |    AS p50_days,
      |  min(CASE WHEN s < k95 AND k95 <= s + cnt THEN delay END)
      |    AS p95_days,
      |  ${Exact.Sql.ratio6Big("max(tot)", "max(n)")} AS mean_days
      |FROM k GROUP BY priority
      |ORDER BY priority NULLS FIRST""".stripMargin,
  ) { (s, d) =>
    val dd = Tables.lineitem(s, d)
      .filter(col("l_shipdate").isNotNull)
      .select(col("l_orderkey"),
        expr("unix_micros(CAST(l_shipdate AS TIMESTAMP)) div 86400000000")
          .as("sday"))
      .join(Tables.orders(s, d)
        .filter(col("o_orderdate").isNotNull)
        .select(col("o_orderkey"), col("o_orderpriority").as("priority"),
          expr(
            "unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000")
            .as("oday")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("priority"), (col("sday") - col("oday")).as("delay"))
    val runs = dd.groupBy(col("priority"), col("delay"))
      .agg(count(lit(1)).cast("long").as("cnt"),
        sum(col("delay")).cast("long").as("dsum"))
    val wCum = Window.partitionBy(col("priority")).orderBy(col("delay"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val wAll = Window.partitionBy(col("priority"))
    val k = runs.select(col("priority"), col("delay"), col("cnt"),
      (sum(col("cnt")).over(wCum) - col("cnt")).cast("long").as("s"),
      sum(col("cnt")).over(wAll).cast("long").as("n"),
      sum(col("dsum")).over(wAll).cast("long").as("tot"))
      .select(col("priority"), col("delay"), col("cnt"), col("s"),
        col("n"), col("tot"),
        expr("(n * 500000 + 999999) div 1000000").as("k50"),
        expr("(n * 950000 + 999999) div 1000000").as("k95"))
    k.groupBy(col("priority"))
      .agg(max(col("n")).as("n_lines"),
        min(when(col("s") < col("k50")
          && col("k50") <= col("s") + col("cnt"), col("delay")))
          .as("p50_days"),
        min(when(col("s") < col("k95")
          && col("k95") <= col("s") + col("cnt"), col("delay")))
          .as("p95_days"),
        max(col("tot")).as("tot"))
      .select(col("priority"), col("n_lines"), col("p50_days"),
        col("p95_days"),
        Exact.ratio6Big("tot", "n_lines").as("mean_days"))
      .orderBy(col("priority"))
  }

  /** REPEAT-PURCHASE INTERVALS PER SEGMENT — customer-grain order
    * cadence: exact p50/p95 and mean of the day gaps between a
    * customer's consecutive orders, aggregated per c_mktsegment. The
    * demand-side rhythm q262's Croston forecast consumes and the
    * lifetime-value panel (q286) prices; segment-level cadence drift is
    * the retention early-warning the per-order panels cannot see.
    *
    * The per-customer lag window partitions by o_custkey — CUSTOMER
    * cardinality (millions of small partitions at 100 TB), the GOOD
    * kind of window partitioning, unlike the 5-type gap family
    * typeGapsCarry exists for (stated contrast).
    *
    * Exactness: epoch-day gaps exact int64 over the (day, o_orderkey)
    * per-customer total order; percentiles ride the q315 run device per
    * segment; mean via ratio6Big (value-sum class). Single-order
    * customers contribute no gaps (lag-NULL semantics, stated).
    *
    * Plan: one custkey equi join to the customer dim, customer-keyed
    * lag windows, one (segment, gap) aggregate, run-sized windows.
    */
  val q323RepeatIntervals = Q(
    "q323_repeat_intervals",
    s"""WITH o AS (
      |  SELECT o.o_custkey, c.c_mktsegment AS segment, o.o_orderkey,
      |    epoch_us(CAST(o.o_orderdate AS TIMESTAMP)) // 86400000000
      |      AS day
      |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |  WHERE o.o_orderdate IS NOT NULL AND c.c_mktsegment IS NOT NULL
      |),
      |g AS (
      |  SELECT segment,
      |    day - lag(day) OVER (PARTITION BY o_custkey
      |      ORDER BY day, o_orderkey) AS gap
      |  FROM o
      |),
      |runs AS (
      |  SELECT segment, gap, CAST(count(*) AS BIGINT) AS cnt,
      |    CAST(sum(gap) AS BIGINT) AS gsum
      |  FROM g WHERE gap IS NOT NULL GROUP BY 1, 2
      |),
      |cum AS (
      |  SELECT segment, gap, cnt,
      |    sum(cnt) OVER (PARTITION BY segment ORDER BY gap
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - cnt AS s,
      |    CAST(sum(cnt) OVER (PARTITION BY segment) AS BIGINT) AS n,
      |    CAST(sum(gsum) OVER (PARTITION BY segment) AS BIGINT) AS tot
      |  FROM runs
      |),
      |k AS (
      |  SELECT segment, gap, cnt, s, n, tot,
      |    (n * 500000 + 999999) // 1000000 AS k50,
      |    (n * 950000 + 999999) // 1000000 AS k95
      |  FROM cum
      |)
      |SELECT segment, max(n) AS n_gaps,
      |  min(CASE WHEN s < k50 AND k50 <= s + cnt THEN gap END)
      |    AS p50_days,
      |  min(CASE WHEN s < k95 AND k95 <= s + cnt THEN gap END)
      |    AS p95_days,
      |  ${Exact.Sql.ratio6Big("max(tot)", "max(n)")} AS mean_days
      |FROM k GROUP BY segment
      |ORDER BY segment NULLS FIRST""".stripMargin,
  ) { (s, d) =>
    val o = Tables.orders(s, d)
      .filter(col("o_orderdate").isNotNull)
      .select(col("o_custkey"), col("o_orderkey"),
        expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000")
          .as("day"))
      .join(Tables.customer(s, d)
        .filter(col("c_mktsegment").isNotNull)
        .select(col("c_custkey"), col("c_mktsegment").as("segment")),
        col("o_custkey") === col("c_custkey"))
    val g = o.select(col("segment"),
        (col("day") - lag(col("day"), 1).over(
          Window.partitionBy(col("o_custkey"))
            .orderBy(col("day"), col("o_orderkey")))).as("gap"))
      .filter(col("gap").isNotNull)
    val runs = g.groupBy(col("segment"), col("gap"))
      .agg(count(lit(1)).cast("long").as("cnt"),
        sum(col("gap")).cast("long").as("gsum"))
    val wCum = Window.partitionBy(col("segment")).orderBy(col("gap"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val wAll = Window.partitionBy(col("segment"))
    val k = runs.select(col("segment"), col("gap"), col("cnt"),
      (sum(col("cnt")).over(wCum) - col("cnt")).cast("long").as("s"),
      sum(col("cnt")).over(wAll).cast("long").as("n"),
      sum(col("gsum")).over(wAll).cast("long").as("tot"))
      .select(col("segment"), col("gap"), col("cnt"), col("s"),
        col("n"), col("tot"),
        expr("(n * 500000 + 999999) div 1000000").as("k50"),
        expr("(n * 950000 + 999999) div 1000000").as("k95"))
    k.groupBy(col("segment"))
      .agg(max(col("n")).as("n_gaps"),
        min(when(col("s") < col("k50")
          && col("k50") <= col("s") + col("cnt"), col("gap")))
          .as("p50_days"),
        min(when(col("s") < col("k95")
          && col("k95") <= col("s") + col("cnt"), col("gap")))
          .as("p95_days"),
        max(col("tot")).as("tot"))
      .select(col("segment"), col("n_gaps"), col("p50_days"),
        col("p95_days"),
        Exact.ratio6Big("tot", "n_gaps").as("mean_days"))
      .orderBy(col("segment"))
  }

  /** EFFECTIVE SAMPLE SIZE FROM AUTOCORRELATION — how many INDEPENDENT
    * observations the hourly count series is actually worth: ESS =
    * n / (1 + 2·Σ_{k=1..5} max(ρ_k, 0)) over the dense zero-filled
    * hourly grid. Every "is this shift significant" test in the
    * registry (q154's z, q192's mSPRT, q231's Mann–Kendall) quietly
    * assumes independent samples; a ρ₁ ≈ 0.5 series has HALF the
    * evidence its row count claims, and ESS is the correction factor a
    * monitoring pipeline should divide by before quoting any n. The
    * lag-1..5 window (clipped at 0, the standard initial-positive-
    * sequence convention, stated) extends q221's 2-lag ACF to the
    * depth daily-ish dependence needs.
    *
    * Exactness: centered terms cleared to int64 by multiplying through
    * by n — xc_t = n·x_t − S exactly (|xc| ≤ n·max(x); Σxc·xc_k ≤
    * span³·max² ≈ 4·10¹⁷ at ×100 genscale, inside int64 — stated bound,
    * ×1000 would need re-clearing); each ρ_k is ONE fixed-order divide
    * of exact int64s; the clip and the k-sum are explicit CASE + left-
    * to-right double adds; ESS is one divide, rounded at 6. Lags with
    * no pairs (span ≤ k) leave num_k NULL (sum over empty) → NULL ESS
    * via explicit CASE on BOTH engines; a constant series (den = 0) →
    * NULL ρ/ESS via nullif.
    *
    * Plan: the q221 dense grid (span-bounded, never row-proportional),
    * five lag columns in ONE window pass per type, one moment
    * aggregate. 5-type × span-sized partitions — bounded by calendar
    * span, the acceptable window class (q193's family).
    */
  val q325EffectiveSampleSize = Q(
    "q325_effective_sample_size",
    """WITH e AS (
      |  SELECT event_type,
      |    epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS m
      |  FROM events
      |  WHERE ts IS NOT NULL AND event_type IS NOT NULL
      |),
      |mc AS (SELECT event_type, m, count(*) AS cnt FROM e GROUP BY 1, 2),
      |b AS (SELECT event_type, min(m) AS m0, max(m) AS m1
      |      FROM mc GROUP BY 1),
      |grid AS (
      |  SELECT b.event_type, b.m0,
      |    unnest(range(0, b.m1 - b.m0 + 1)) AS t
      |  FROM b
      |),
      |x AS (
      |  SELECT g.event_type, g.t,
      |    CAST(COALESCE(mc.cnt, 0) AS BIGINT) AS x
      |  FROM grid g LEFT JOIN mc
      |    ON mc.event_type = g.event_type AND mc.m = g.m0 + g.t
      |),
      |tot AS (
      |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(x) AS BIGINT) AS sx
      |  FROM x GROUP BY 1
      |),
      |xc AS (
      |  SELECT x.event_type, x.t, tot.n,
      |    CAST(tot.n * x.x - tot.sx AS BIGINT) AS c
      |  FROM x JOIN tot ON x.event_type = tot.event_type
      |),
      |lagd AS (
      |  SELECT event_type, n, c,
      |    lag(c, 1) OVER w AS c1, lag(c, 2) OVER w AS c2,
      |    lag(c, 3) OVER w AS c3, lag(c, 4) OVER w AS c4,
      |    lag(c, 5) OVER w AS c5
      |  FROM xc
      |  WINDOW w AS (PARTITION BY event_type ORDER BY t)
      |),
      |agg AS (
      |  SELECT event_type, max(n) AS n,
      |    CAST(sum(c * c) AS BIGINT) AS den,
      |    CAST(sum(c * c1) AS BIGINT) AS n1,
      |    CAST(sum(c * c2) AS BIGINT) AS n2,
      |    CAST(sum(c * c3) AS BIGINT) AS n3,
      |    CAST(sum(c * c4) AS BIGINT) AS n4,
      |    CAST(sum(c * c5) AS BIGINT) AS n5
      |  FROM lagd GROUP BY 1
      |),
      |r AS (
      |  SELECT event_type, n, den,
      |    CAST(n1 AS DOUBLE) / nullif(CAST(den AS DOUBLE),
      |      CAST(0 AS DOUBLE)) AS r1,
      |    CAST(n2 AS DOUBLE) / nullif(CAST(den AS DOUBLE),
      |      CAST(0 AS DOUBLE)) AS r2,
      |    CAST(n3 AS DOUBLE) / nullif(CAST(den AS DOUBLE),
      |      CAST(0 AS DOUBLE)) AS r3,
      |    CAST(n4 AS DOUBLE) / nullif(CAST(den AS DOUBLE),
      |      CAST(0 AS DOUBLE)) AS r4,
      |    CAST(n5 AS DOUBLE) / nullif(CAST(den AS DOUBLE),
      |      CAST(0 AS DOUBLE)) AS r5
      |  FROM agg
      |)
      |SELECT event_type, n AS span,
      |  round(r1, 6) AS rho1, round(r2, 6) AS rho2, round(r3, 6) AS rho3,
      |  round(r4, 6) AS rho4, round(r5, 6) AS rho5,
      |  round(CASE WHEN r1 IS NULL OR r2 IS NULL OR r3 IS NULL
      |      OR r4 IS NULL OR r5 IS NULL THEN NULL
      |    ELSE CAST(n AS DOUBLE)
      |      / (CAST(1 AS DOUBLE) + CAST(2 AS DOUBLE)
      |        * ((((CASE WHEN r1 > 0 THEN r1 ELSE CAST(0 AS DOUBLE) END
      |          + CASE WHEN r2 > 0 THEN r2 ELSE CAST(0 AS DOUBLE) END)
      |          + CASE WHEN r3 > 0 THEN r3 ELSE CAST(0 AS DOUBLE) END)
      |          + CASE WHEN r4 > 0 THEN r4 ELSE CAST(0 AS DOUBLE) END)
      |          + CASE WHEN r5 > 0 THEN r5 ELSE CAST(0 AS DOUBLE) END))
      |    END, 6) AS ess
      |FROM r
      |ORDER BY event_type""".stripMargin,
  ) { (s, d) =>
    val mc = Tables.events(s, d)
      .filter(col("ts").isNotNull && col("event_type").isNotNull)
      .select(col("event_type"),
        expr("unix_micros(ts) div 3600000000").as("m"))
      .groupBy(col("event_type"), col("m")).agg(count(lit(1)).as("cnt"))
    val grid = mc.groupBy(col("event_type"))
      .agg(min(col("m")).as("m0"), max(col("m")).as("m1"))
      .select(col("event_type").as("g_type"), col("m0"),
        explode(sequence(lit(0L), col("m1") - col("m0"))).as("t"))
    val x = grid.join(mc,
        col("g_type") === mc("event_type")
          && mc("m") === col("m0") + col("t"), "left")
      .select(col("g_type").as("event_type"), col("t"),
        coalesce(col("cnt"), lit(0L)).cast("long").as("x"))
    val tot = x.groupBy(col("event_type").as("t_type"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("x")).cast("long").as("sx"))
    val xc = x.join(tot, col("event_type") === col("t_type"))
      .select(col("event_type"), col("t"), col("n"),
        (col("n") * col("x") - col("sx")).cast("long").as("c"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("t"))
    val lagd = xc.select(col("event_type"), col("n"), col("c"),
      lag(col("c"), 1).over(w).as("c1"), lag(col("c"), 2).over(w).as("c2"),
      lag(col("c"), 3).over(w).as("c3"), lag(col("c"), 4).over(w).as("c4"),
      lag(col("c"), 5).over(w).as("c5"))
    val agg = lagd.groupBy(col("event_type"))
      .agg(max(col("n")).as("n"),
        sum(col("c") * col("c")).cast("long").as("den"),
        sum(col("c") * col("c1")).cast("long").as("n1"),
        sum(col("c") * col("c2")).cast("long").as("n2"),
        sum(col("c") * col("c3")).cast("long").as("n3"),
        sum(col("c") * col("c4")).cast("long").as("n4"),
        sum(col("c") * col("c5")).cast("long").as("n5"))
    def rho(k: Int): Column =
      col(s"n$k").cast("double") /
        nullif(col("den").cast("double"), lit(0.0))
    val r = agg.select(col("event_type"), col("n"),
      rho(1).as("r1"), rho(2).as("r2"), rho(3).as("r3"),
      rho(4).as("r4"), rho(5).as("r5"))
    val ess = expr("""CASE WHEN r1 IS NULL OR r2 IS NULL OR r3 IS NULL
      |    OR r4 IS NULL OR r5 IS NULL THEN NULL
      |  ELSE CAST(n AS DOUBLE)
      |    / (CAST(1 AS DOUBLE) + CAST(2 AS DOUBLE)
      |      * ((((CASE WHEN r1 > 0 THEN r1 ELSE CAST(0 AS DOUBLE) END
      |        + CASE WHEN r2 > 0 THEN r2 ELSE CAST(0 AS DOUBLE) END)
      |        + CASE WHEN r3 > 0 THEN r3 ELSE CAST(0 AS DOUBLE) END)
      |        + CASE WHEN r4 > 0 THEN r4 ELSE CAST(0 AS DOUBLE) END)
      |        + CASE WHEN r5 > 0 THEN r5 ELSE CAST(0 AS DOUBLE) END))
      |  END""".stripMargin)
    r.select(col("event_type"), col("n").as("span"),
        round(col("r1"), 6).as("rho1"), round(col("r2"), 6).as("rho2"),
        round(col("r3"), 6).as("rho3"), round(col("r4"), 6).as("rho4"),
        round(col("r5"), 6).as("rho5"),
        round(ess, 6).as("ess"))
      .orderBy(col("event_type"))
  }

  /** MURPHY DECOMPOSITION OF THE BRIER SCORE — WHY a forecast scores
    * what it scores: q174 reports the per-decile Brier; this splits the
    * corpus-level score into Brier = REL − RES + UNC over the same
    * decile forecasts — reliability (how far each decile's forecast
    * sits from its realized rate — miscalibration, lower better),
    * resolution (how much the deciles' outcomes SPREAD around the base
    * rate — discrimination, higher better), and uncertainty (the base
    * rate's intrinsic ō(1−ō), the no-skill floor). Two forecasters
    * with equal Brier can be one well-calibrated-but-flat and one
    * sharp-but-biased; this is the panel that tells them apart.
    *
    * Exactness: q174's construction verbatim through the decile table
    * (integer micro-rate forecasts pµ). The TOTAL Brier rides the same
    * pre-normalized quantized chain as REL/RES (r17, closing the r16
    * ADVICE envelope): each decile's numerator n_k·pµ² − 2·10⁶·pµ·x2
    * + 10¹²·x2 (= Σ_users (pµ − 10⁶y)² ≥ 0) is computed as a
    * fixed-order DOUBLE product chain — the raw int64 form crossed 2⁶³
    * near 4.6M users, the §5.7 pre-normalization rule's own audit
    * class — divided by 10¹²·nn INSIDE the DECIMAL(18,9) quantization
    * so each summand is ≤ n_k/nn ≤ 1 at ANY corpus size (cancellation
    * error of the chain ≈ 10⁻¹⁶·n/nn, far under the 10⁻⁹ quantum).
    * REL and RES terms clear to int64 differences (d = n·pµ − 10⁶·x2;
    * d₂ = N·x2 − n·X2), squared PER-FACTOR in doubles (the n⁴
    * discipline — d² would pass int64 at ×100) with each decile's term
    * one fixed chain quantized DECIMAL(18,9) so the 10-term cross-
    * decile sum is associative (the q248 device); UNC is one fixed
    * chain of exact casts. The identity REL − RES + UNC = Brier is
    * suite-asserted to 1e-9 (it re-associates floats, so bit equality
    * is not claimed — stated).
    *
    * Plan: q174's two scans + a 10-row decomposition finish. 1-row
    * output; the ntile window is user-bounded (q174's stated shape).
    */
  val q326BrierDecomposition = Q(
    "q326_brier_decomposition",
    s"""WITH b AS (
      |  SELECT (min(epoch_us(CAST(ts AS TIMESTAMP)))
      |    + max(epoch_us(CAST(ts AS TIMESTAMP)))) // 2 AS mid
      |  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
      |),
      |h AS (
      |  SELECT user_id,
      |    sum(CASE WHEN epoch_us(CAST(ts AS TIMESTAMP)) <= b.mid
      |        THEN 1 ELSE 0 END) AS s1,
      |    sum(CASE WHEN epoch_us(CAST(ts AS TIMESTAMP)) <= b.mid
      |          AND event_type = 'purchase' THEN 1 ELSE 0 END) AS p1,
      |    sum(CASE WHEN epoch_us(CAST(ts AS TIMESTAMP)) > b.mid
      |          AND event_type = 'purchase' THEN 1 ELSE 0 END) AS p2
      |  FROM events, b
      |  WHERE ts IS NOT NULL AND user_id IS NOT NULL
      |  GROUP BY user_id
      |),
      |d AS (
      |  SELECT user_id,
      |    ntile(10) OVER (ORDER BY s1 DESC, user_id) AS decile,
      |    CASE WHEN p1 >= 8 THEN 1 ELSE 0 END AS c1,
      |    CASE WHEN p2 >= 8 THEN 1 ELSE 0 END AS y
      |  FROM h WHERE s1 > 0
      |),
      |g AS (
      |  SELECT decile, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(c1) AS BIGINT) AS x1, CAST(sum(y) AS BIGINT) AS x2
      |  FROM d GROUP BY decile
      |),
      |p AS (
      |  SELECT decile, n, x1, x2,
      |    (2 * x1 * 1000000 + n) // (2 * n) AS pmu,
      |    CAST(sum(n) OVER () AS BIGINT) AS nn,
      |    CAST(sum(x2) OVER () AS BIGINT) AS xx
      |  FROM g
      |),
      |terms AS (
      |  SELECT nn, xx,
      |    CAST(sum(CAST(
      |      (CAST(n AS DOUBLE) * CAST(pmu AS DOUBLE) * CAST(pmu AS DOUBLE)
      |        - 2000000.0 * CAST(pmu AS DOUBLE) * CAST(x2 AS DOUBLE)
      |        + 1000000000000.0 * CAST(x2 AS DOUBLE))
      |        / 1000000000000.0 / CAST(nn AS DOUBLE)
      |      AS DECIMAL(18,9))) AS DOUBLE) AS bq,
      |    CAST(sum(CAST(
      |      CAST(n * pmu - 1000000 * x2 AS DOUBLE)
      |        * CAST(n * pmu - 1000000 * x2 AS DOUBLE)
      |        / CAST(n AS DOUBLE) / 1000000000000.0
      |        / CAST(nn AS DOUBLE)
      |      AS DECIMAL(18,9))) AS DOUBLE) AS rel,
      |    CAST(sum(CAST(
      |      CAST(nn * x2 - n * xx AS DOUBLE)
      |        * CAST(nn * x2 - n * xx AS DOUBLE)
      |        / CAST(n AS DOUBLE) / CAST(nn AS DOUBLE)
      |        / CAST(nn AS DOUBLE) / CAST(nn AS DOUBLE)
      |      AS DECIMAL(18,9))) AS DOUBLE) AS res
      |  FROM p GROUP BY nn, xx
      |)
      |SELECT nn AS n_users, xx AS n_positive,
      |  round(bq, 6) AS brier,
      |  round(rel, 6) AS reliability,
      |  round(res, 6) AS resolution,
      |  round(CAST(xx AS DOUBLE) * CAST(nn - xx AS DOUBLE)
      |    / CAST(nn AS DOUBLE) / CAST(nn AS DOUBLE), 6) AS uncertainty
      |FROM terms""".stripMargin,
  ) { (s, d) =>
    val ev = Tables.events(s, d)
      .filter(col("ts").isNotNull && col("user_id").isNotNull)
      .select(col("user_id"), col("event_type"),
        expr("unix_micros(ts)").as("us"))
    val b = ev.agg(expr("(min(us) + max(us)) div 2").as("mid"))
    val h = ev.crossJoin(broadcast(b))
      .groupBy(col("user_id"))
      .agg(sum(when(col("us") <= col("mid"), 1).otherwise(0)).as("s1"),
        sum(when(col("us") <= col("mid")
          && col("event_type") === "purchase", 1).otherwise(0)).as("p1"),
        sum(when(col("us") > col("mid")
          && col("event_type") === "purchase", 1).otherwise(0)).as("p2"))
      .filter(col("s1") > 0)
      .transform(graft.operators.Iter.pin) // probe + main action (§5.7 pin rule)
    // r17: scale-parallel closed-form ntile (was a global one-task sort)
    val ddf = ntilePar(h, 10, "s1", desc = true, Seq("user_id"))
      .select(col("user_id"), col("tile").as("decile"),
        when(col("p1") >= 8, 1).otherwise(0).as("c1"),
        when(col("p2") >= 8, 1).otherwise(0).as("y"))
    val g = ddf.groupBy(col("decile"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("c1")).cast("long").as("x1"),
        sum(col("y")).cast("long").as("x2"))
    val p = g
      .withColumn("pmu", expr("(2 * x1 * 1000000 + n) div (2 * n)"))
      .withColumn("nn",
        sum(col("n")).over(Window.partitionBy()).cast("long"))
      .withColumn("xx",
        sum(col("x2")).over(Window.partitionBy()).cast("long"))
    val terms = p.groupBy(col("nn"), col("xx"))
      .agg(
        // per-decile Brier numerator pre-normalized ≤ 1 inside the
        // quantization (the raw int64 sum crossed 2⁶³ near 4.6M users —
        // the §5.7 audit class, r17); fixed-order double chain, exact
        // cancellation bounded ~1e-16·n/nn per term
        sum(expr("""CAST(
          |  (CAST(n AS DOUBLE) * CAST(pmu AS DOUBLE) * CAST(pmu AS DOUBLE)
          |    - 2000000.0 * CAST(pmu AS DOUBLE) * CAST(x2 AS DOUBLE)
          |    + 1000000000000.0 * CAST(x2 AS DOUBLE))
          |    / 1000000000000.0 / CAST(nn AS DOUBLE)
          |  AS DECIMAL(18,9))""".stripMargin)).cast("double").as("bq"),
        // each quantized term is PRE-normalized by nn (rel) / nn³ (res)
        // so it stays ≤ 1 at ANY corpus size — the raw d²/n form
        // overflowed DECIMAL(18,9)'s 10⁹ integer headroom the moment
        // the ×10 axis ran (caught before merge, the q166 pattern)
        sum(expr("""CAST(
          |  CAST(n * pmu - 1000000 * x2 AS DOUBLE)
          |    * CAST(n * pmu - 1000000 * x2 AS DOUBLE)
          |    / CAST(n AS DOUBLE) / 1000000000000.0
          |    / CAST(nn AS DOUBLE)
          |  AS DECIMAL(18,9))""".stripMargin)).cast("double")
          .as("rel"),
        sum(expr("""CAST(
          |  CAST(nn * x2 - n * xx AS DOUBLE)
          |    * CAST(nn * x2 - n * xx AS DOUBLE)
          |    / CAST(n AS DOUBLE) / CAST(nn AS DOUBLE)
          |    / CAST(nn AS DOUBLE) / CAST(nn AS DOUBLE)
          |  AS DECIMAL(18,9))""".stripMargin)).cast("double")
          .as("res"))
    terms.select(col("nn").as("n_users"), col("xx").as("n_positive"),
        round(col("bq"), 6).as("brier"),
        round(col("rel"), 6).as("reliability"),
        round(col("res"), 6).as("resolution"),
        round(expr("""CAST(xx AS DOUBLE) * CAST(nn - xx AS DOUBLE)
          |  / CAST(nn AS DOUBLE) / CAST(nn AS DOUBLE)""".stripMargin), 6)
          .as("uncertainty"))
  }

  /** QQ DECILE DRIFT — the quantile-level distribution-shift readout
    * between the corpus's two time halves, per event type: the nine
    * deciles of `value` cents in each half side by side with their
    * ratio. q140's KS gives ONE number (the largest CDF gap) and q111's
    * PSI bins coarsely; the QQ table says WHERE the distribution moved
    * — a drifting p90 with a stable median is a tail regime change, the
    * opposite is a price-floor move. The deploy-gate panel for any
    * model scoring `value`.
    *
    * Exactness: exact cents; the global temporal midpoint is the q174
    * 2-scalar probe; per-(type, half) deciles ride the q315 value-run
    * device with k_j = ⌈j·n/10⌉ read off covering runs — the nine
    * deciles come from ONE run table crossed with a 9-row literal grid
    * (no re-scan per decile); the ratio is ratio6 with a zero-cent
    * early-decile NULL guard (nullif). PRECONDITION (the q307/q247
    * discipline, r17 ADVICE): qq_ratio assumes NON-NEGATIVE decile
    * cents — ratio6's Spark `div` truncates toward zero while DuckDB's
    * `//` floors, so a value distribution with negative cents in its
    * lower deciles would round differently cross-engine (the §5.7 div
    * row); the fixture's `value` is non-negative, and a signed corpus
    * must route the ratio through the pmod floor idiom first. A type
    * missing from one half
    * drops its rows (inner join on type across halves — stated).
    *
    * Plan: one scan + midpoint probe, one (type, half, cents) run
    * aggregate, run-sized windows, a 9-row bounded explode. Nothing
    * row-proportional after the run table.
    */
  val q327QqDrift = Q(
    "q327_qq_drift",
    s"""WITH b AS (
      |  SELECT (min(epoch_us(CAST(ts AS TIMESTAMP)))
      |    + max(epoch_us(CAST(ts AS TIMESTAMP)))) // 2 AS mid
      |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
      |    AND event_type IS NOT NULL
      |),
      |e AS (
      |  SELECT event_type,
      |    CASE WHEN epoch_us(CAST(ts AS TIMESTAMP)) <= b.mid
      |      THEN 0 ELSE 1 END AS half,
      |    CAST(round(100 * value) AS BIGINT) AS cents
      |  FROM events, b
      |  WHERE ts IS NOT NULL AND value IS NOT NULL
      |    AND event_type IS NOT NULL
      |),
      |runs AS (
      |  SELECT event_type, half, cents, CAST(count(*) AS BIGINT) AS cnt
      |  FROM e GROUP BY 1, 2, 3
      |),
      |cum AS (
      |  SELECT event_type, half, cents, cnt,
      |    sum(cnt) OVER (PARTITION BY event_type, half ORDER BY cents
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - cnt AS s,
      |    CAST(sum(cnt) OVER (PARTITION BY event_type, half) AS BIGINT)
      |      AS n
      |  FROM runs
      |),
      |q AS (
      |  SELECT c.event_type, c.half, j.j, max(c.n) AS n,
      |    min(CASE WHEN c.s < (c.n * j.j + 9) // 10
      |      AND (c.n * j.j + 9) // 10 <= c.s + c.cnt
      |      THEN c.cents END) AS v
      |  FROM cum c CROSS JOIN (SELECT unnest(range(1, 10)) AS j) j
      |  GROUP BY 1, 2, 3
      |)
      |SELECT a.event_type, CAST(a.j AS BIGINT) AS decile,
      |  a.n AS n_first, h2.n AS n_second,
      |  a.v AS cents_first, h2.v AS cents_second,
      |  ${Exact.Sql.ratio6("h2.v", "a.v")} AS qq_ratio
      |FROM q a JOIN q h2 ON a.event_type = h2.event_type
      |  AND a.j = h2.j AND a.half = 0 AND h2.half = 1
      |ORDER BY a.event_type NULLS FIRST, decile""".stripMargin,
  ) { (s, d) =>
    val ev = Tables.events(s, d)
      .filter(col("ts").isNotNull && col("value").isNotNull
        && col("event_type").isNotNull)
      .select(col("event_type"), expr("unix_micros(ts)").as("us"),
        expr("CAST(round(100 * value) AS BIGINT)").as("cents"))
    val b = ev.agg(expr("(min(us) + max(us)) div 2").as("mid"))
    val e = ev.crossJoin(broadcast(b))
      .select(col("event_type"),
        when(col("us") <= col("mid"), 0).otherwise(1).as("half"),
        col("cents"))
    val runs = e.groupBy(col("event_type"), col("half"), col("cents"))
      .agg(count(lit(1)).cast("long").as("cnt"))
    val wCum = Window.partitionBy(col("event_type"), col("half"))
      .orderBy(col("cents"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val wAll = Window.partitionBy(col("event_type"), col("half"))
    val cum = runs.select(col("event_type"), col("half"), col("cents"),
      col("cnt"),
      (sum(col("cnt")).over(wCum) - col("cnt")).cast("long").as("s"),
      sum(col("cnt")).over(wAll).cast("long").as("n"))
    val q = cum
      .crossJoin(broadcast(
        s.range(1, 10).select(col("id").as("j"))))
      .groupBy(col("event_type"), col("half"), col("j"))
      .agg(max(col("n")).as("n"),
        min(when(col("s") < expr("(n * j + 9) div 10")
          && expr("(n * j + 9) div 10") <= col("s") + col("cnt"),
          col("cents"))).as("v"))
    q.filter(col("half") === 0)
      .select(col("event_type"), col("j"), col("n").as("n_first"),
        col("v").as("cents_first"))
      .join(q.filter(col("half") === 1)
        .select(col("event_type").as("t2"), col("j").as("j2"),
          col("n").as("n_second"), col("v").as("cents_second")),
        col("event_type") === col("t2") && col("j") === col("j2"))
      .select(col("event_type"), col("j").cast("long").as("decile"),
        col("n_first"), col("n_second"),
        col("cents_first"), col("cents_second"),
        Exact.ratio6("cents_second", "cents_first").as("qq_ratio"))
      .orderBy(col("event_type"), col("decile"))
  }
}
