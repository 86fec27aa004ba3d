package graft.queries

import graft.{Q, Tables}
import graft.operators.Fan
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity-search operator family over `embeddings.embedding`
  * (ARRAY<FLOAT>, dim 64): blocked cosine near-dup, brute-force cosine
  * top-k, and IVF-style cluster-pruned ANN.
  *
  * Float discipline for oracle parity: every element is cast to double and
  * every reduction is an explicit LEFT FOLD in index order (Spark
  * `aggregate` over `zip_with`; DuckDB `list_reduce(list_prepend(0.0, ...))`)
  * so both engines add in the same sequence; the final cosine is rounded to
  * 6 decimals and ties rank deterministically by vec_id.
  *
  * Norms are PRECOMPUTED per vector (one fold each) instead of per pair —
  * the pairwise hot path then does exactly one fold (the dot product) plus
  * two scalar divisions; at 125M pairs per sf0.1 block that's a 3× cut in
  * fold work. Division order (dot / |a| / |b|) is pinned on both engines.
  *
  * 100 TB notes:
  *  - near-dup: the pair generator is an equi-join on the blocking key
  *    (cluster label) — no cross join; at scale the blocking key comes from
  *    the same IVF assignment as q36.
  *  - top-k: the K query vectors are BROADCAST; the scan side never
  *    shuffles until the per-query top-k window (keyed by qid).
  *  - IVF: centroids broadcast for assignment (narrow map); candidate
  *    generation joins on cluster id only — per-query cost N → N/K.
  */
object Similarity {

  def all: Seq[Q] = Seq(
    q34CosineNeardup, q35CosineTopk, q36AnnIvf, q64AnnSrp, q72Int8Quant,
    q93LabelCentroids, q100AnnIvfNprobe, q102SemanticDedup, q103PqEncode,
    q104PqAdcTopk, q105RrfHybrid, q118MmrRerank, q126EmbeddingCovariance,
    q167HardNegatives, q183ReciprocalNn, q184EmbeddingOutliers,
    q251Silhouette, q268Anisotropy, q269TwoNn, q270LabelNoise,
    q272ClassBalanced, q300ParticipationRatio, q308NormDrift,
    q311CentroidDistances, q328LabelSeparation)

  /** Embedding covariance matrix [EXT] — the statistic whitening, PCA, and
    * embedding-drift monitoring all start from: for every dimension pair
    * i ≤ j, the exact integer covariance numerator
    * n·Σ(xᵢxⱼ) − Σxᵢ·Σxⱼ (= n²·cov) over KILO-unit fixed-point
    * coordinates (1e-3 resolution — chosen so n·Σxy stays far inside
    * BIGINT at corpus scale where the micro-unit square would overflow;
    * emitting the exact NUMERATOR rather than a divided ratio also
    * sidesteps the truncate-vs-floor negative-division divergence between
    * the engines entirely).
    *
    * Plan: one fused double-explode of the upper triangle (sequence i,
    * then sequence i..D — no self-join, no shuffle before the aggregate)
    * into ONE map-side-combined hash aggregate over D(D+1)/2 groups —
    * provably bounded output (2,080 rows at D = 64) from a single scan.
    * Twin replay bound (the q127 convention): the oracle unrolls
    * dimension indices from range(1, 256) — embeddings beyond 255 dims
    * would diverge (Spark emits their pairs, the twin cannot); fine for
    * this corpus (D = 64), stated here rather than discovered as a false
    * engine-divergence.
    */
  val q126EmbeddingCovariance = Q(
    "q126_embedding_covariance",
    """WITH x AS (
      |  SELECT vec_id,
      |    list_transform(embedding,
      |      v -> CAST(round(CAST(v AS DOUBLE) * 1000) AS BIGINT)) AS xk
      |  FROM embeddings
      |),
      |p AS (
      |  SELECT i.i, j.j, xk[i.i] AS xi, xk[j.j] AS xj
      |  FROM x,
      |    (SELECT unnest(range(1, 256)) AS i) i,
      |    (SELECT unnest(range(1, 256)) AS j) j
      |  WHERE i.i <= len(xk) AND j.j <= len(xk) AND i.i <= j.j
      |)
      |SELECT i, j, count(*) AS n,
      |  CAST(count(*) * sum(xi * xj) - sum(xi) * sum(xj) AS BIGINT) AS cov_num
      |FROM p GROUP BY i, j
      |ORDER BY i NULLS FIRST, j NULLS FIRST""".stripMargin,
  ) { (s, d) =>
    val e = Tables.embeddings(s, d).select(
      transform(col("embedding"),
        v => round(v.cast("double") * 1000).cast("long")).as("xk"))
      // empty arrays must be dropped BEFORE sequence(): Spark's
      // sequence(1, 0) DESCENDS and would feed element_at index 0 (the
      // shingleRows pitfall); the oracle's `WHERE i <= len(xk)` drops the
      // same rows silently
      .filter(size(col("xk")) > 0)
    e.select(col("xk"), explode(sequence(lit(1), size(col("xk")))).as("i"))
      .select(col("xk"), col("i"),
        explode(sequence(col("i"), size(col("xk")))).as("j"))
      .select(col("i"), col("j"),
        element_at(col("xk"), col("i")).as("xi"),
        element_at(col("xk"), col("j")).as("xj"))
      .groupBy(col("i"), col("j"))
      .agg(count(lit(1)).as("n"),
        (count(lit(1)) * sum(col("xi") * col("xj")) -
          sum(col("xi")) * sum(col("xj"))).cast("long").as("cov_num"))
      .orderBy(col("i"), col("j"))
  }

  /** Per-label centroid + dispersion accounting — the k-means M-step (and
    * the cluster-quality report an embedding pipeline runs after
    * assignment): mean vector per label, its L1 norm, and the average
    * per-coordinate deviation of members from their centroid. Exactness
    * rides the q72 fixed-point idiom: coordinates become micro-unit
    * BIGINTs, the centroid stays an exact (Σx, n) integer pair, and the
    * deviation |x − mean| is computed SCALED BY n as |n·x − Σx| — integer
    * arithmetic end to end, one final exact-integer→double division per
    * label before rounding, so both engines hash-match. Plan: posexplode →
    * (label, dim) map-side-combined sum/count [the only corpus shuffle] →
    * centroids (K×D rows, provably bounded) BROADCAST back onto the
    * exploded scan → per-label rollup. The same plan at 100 TB is the
    * canonical distributed k-means iteration.
    */
  val q93LabelCentroids = Q(
    "q93_label_centroids",
    """WITH x AS (
      |  SELECT label,
      |    unnest(list_transform(embedding,
      |      v -> CAST(round(CAST(v AS DOUBLE) * 1000000) AS BIGINT))) AS xq,
      |    unnest(range(1, len(embedding) + 1)) AS pos
      |  FROM embeddings
      |),
      |c AS (
      |  SELECT label, pos, CAST(sum(xq) AS BIGINT) AS sq, count(*) AS n
      |  FROM x GROUP BY label, pos
      |),
      |cs AS (
      |  SELECT label, max(n) AS n_vecs, count(*) AS n_dims,
      |    CAST(sum(abs(sq)) AS BIGINT) AS l1_scaled
      |  FROM c GROUP BY label
      |),
      |dev AS (
      |  SELECT x.label, CAST(sum(abs(c.n * x.xq - c.sq)) AS BIGINT) AS sum_dev
      |  FROM x JOIN c ON x.label = c.label AND x.pos = c.pos
      |  GROUP BY x.label
      |)
      |SELECT cs.label, cs.n_vecs, cs.n_dims,
      |  round(CAST(cs.l1_scaled AS DOUBLE) / (cs.n_vecs * 1000000.0), 6)
      |    AS centroid_l1,
      |  round(CAST(dev.sum_dev AS DOUBLE)
      |    / (CAST(cs.n_vecs AS DOUBLE) * cs.n_vecs * cs.n_dims * 1000000.0), 6)
      |    AS avg_dev
      |FROM cs JOIN dev ON cs.label = dev.label
      |ORDER BY cs.label NULLS FIRST""".stripMargin,
  ) { (s, d) =>
    val x = Tables.embeddings(s, d)
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos0", "v")))
      .select(col("label"), (col("pos0") + 1).as("pos"),
        round(col("v").cast("double") * 1e6).cast("long").as("xq"))
    val c = x.groupBy(col("label"), col("pos"))
      .agg(sum(col("xq")).cast("long").as("sq"), count(lit(1)).as("n"))
    val cs = c.groupBy(col("label"))
      .agg(max(col("n")).as("n_vecs"), count(lit(1)).as("n_dims"),
        sum(abs(col("sq"))).cast("long").as("l1_scaled"))
    val dev = x.join(broadcast(c), Seq("label", "pos"))
      .groupBy(col("label"))
      .agg(sum(abs(col("n") * col("xq") - col("sq"))).cast("long")
        .as("sum_dev"))
    cs.join(dev, "label")
      .select(col("label"), col("n_vecs"), col("n_dims"),
        round(col("l1_scaled").cast("double")
          / (col("n_vecs") * lit(1000000.0)), 6).as("centroid_l1"),
        round(col("sum_dev").cast("double")
          / (col("n_vecs").cast("double") * col("n_vecs") * col("n_dims")
            * lit(1000000.0)), 6).as("avg_dev"))
      .orderBy(col("label"))
  }

  private def vec(c: Column): Column = transform(c, _.cast("double"))

  /** Fused native dot product ([[graft.functions.DotF64]], registered by
    * GraftExtensions) — bit-identical to the built-in
    * `aggregate(zip_with(a,b,_*_), 0.0, _+_)` fold it replaces, but a tight
    * codegen'd loop with no per-pair array allocation.
    */
  private def dot(a: Column, b: Column): Column =
    call_function("graft_dot", a, b)

  private def norm(a: Column): Column =
    call_function("graft_norm", a)

  /** round(dot/|a|/|b|, 6) from a pairwise dot and precomputed norms.
    * try_divide: a ZERO vector has norm 0 — its cosine is NULL (DuckDB's
    * division semantics, and every threshold/rank filter then drops it) —
    * where plain `/` crashes under ANSI. Identical for nonzero norms.
    */
  private def cosine(a: Column, b: Column, na: Column, nb: Column): Column =
    round(try_divide(try_divide(dot(a, b), na), nb), 6)

  // ---- r20: triangle-blocked label self-join (guide §2.5) --------------
  //
  // The label-blocked pair generators (q34/q102/q183/q269) equi-join the
  // embedding frame to itself on `label` — ~10 distinct keys on every
  // corpus this engine has seen. Hash partitioning cannot spread ONE key's
  // rows across tasks, so at ×100 the family's 2·10⁸ within-label pairs
  // run on ≤10 of 32 cores and at ×1000 each label is a 2·10¹⁰-pair
  // SINGLE task — the too-few-keys variant of the guide's giant-key skew.
  // AQE's skew-join split does not fire here: the label partitions are
  // mutually even (no 5× median outlier) and each SIDE is only ~100 MB at
  // ×1000 — the quadratic blowup is in the pair PRODUCT, which AQE's
  // byte-based trigger never sees.
  //
  // Fix: the classic triangle grid. Bucket each row by a deterministic
  // hash of vec_id into B buckets; an unordered pair {x, y} with buckets
  // (min, max) = (i, j) is scored in exactly ONE block (i, j); each row
  // lands in B+1 blocks (its row + column of the upper triangle), so the
  // join key (label, i, j) has label·B(B+1)/2 distinct values — thousands
  // of parallel units at any scale — while total pair work is UNCHANGED
  // and every emitted pair is identical to the plain join's. Block
  // membership is pure plan (bucket = pmod(xxhash64(vec_id), B)): any
  // B ≥ 1 yields the same rows, asserted by BlockedPairsSpec's forced-B
  // equality nets. B derives from a per-label count probe (scale-adaptive,
  // never a constant tuned to the local core count); below a provable
  // row bound the plain join runs with ZERO extra jobs (the PlanStats
  // dispatch discipline), so fixture- and sf-scale plans are unchanged.

  /** Block side target: ~8192 rows per bucket ⇒ ≤ ~6.7·10⁷ dot folds per
    * block (~1–2 s of one core) — small enough to parallelize, large
    * enough that the B+1-fold row replication stays a minor shuffle cost
    * next to the quadratic pair work it spreads. */
  private val BlockSideTarget = 8192L

  /** Replication cap: B ≤ 64 bounds the grid shuffle at 65× the vector
    * frame even when a label block reaches ~5·10⁵ rows (past that, blocks
    * grow past the side target again — work per task rises but the task
    * count, 64·65/2 per label, already saturates any executor fleet this
    * engine meets). */
  private val BlockMaxB = 64L

  /** Below this PROVABLE row bound (parquet footers, zero jobs) the plain
    * label join runs unchanged: ≤ 10⁵ rows ⇒ ≤ ~5·10⁸ worst-case pairs
    * over ~10 labels, where the 10-task ceiling costs less than the
    * probe + replication overhead (sf0.1 measured: blocked-forced vs
    * plain is a wash at 2·10³ rows; receipts in OPTIMIZATION_r20.md §4). */
  private val BlockedPairThreshold = 100000L

  /** Self-join of `e` on `label` restricted to vec_id-distinct pairs,
    * returned as a_<col>/b_<col> pair rows — bit-identical to
    * {{{ e.as("a").join(e.as("b"), label === label && idCond) }}} with
    * idCond = `a.vec_id < b.vec_id` (ordered = one row per unordered
    * pair, the lower id in the `a` role) or `a.vec_id =!= b.vec_id`
    * (directed = both orientations). `e` must carry `label` and `vec_id`;
    * NULL labels and NULL vec_ids pair with nothing (plain-join
    * semantics, enforced explicitly because mixed blocks skip idCond).
    * `bOverride` exists for the suite's forced-B equality nets.
    */
  private[graft] def blockedSelfPairs(
      e: org.apache.spark.sql.DataFrame,
      directed: Boolean,
      bOverride: Option[Long] = None): org.apache.spark.sql.DataFrame = {
    val cols = e.columns.toSeq
    require(cols.contains("label") && cols.contains("vec_id"),
      s"blockedSelfPairs: need label + vec_id, got ${cols.mkString(",")}")
    val aCols = cols.map(c => col(c).as(s"a_$c"))
    val bCols = cols.map(c => col(c).as(s"b_$c"))
    def idCond =
      if (directed) col("a_vec_id") =!= col("b_vec_id")
      else col("a_vec_id") < col("b_vec_id")
    def plain = e.select(aCols: _*).join(e.select(bCols: _*),
      col("a_label") === col("b_label") && idCond)
    val b: Long = bOverride.getOrElse {
      if (graft.operators.PlanStats.rowUpperBound(e)
          .exists(_ < BlockedPairThreshold)) 1L
      else {
        // one bounded probe (label-count maximum) sizes the grid; it runs
        // only when the corpus is provably past the threshold, where the
        // quadratic join it parallelizes dwarfs one count aggregate
        val mm = e.groupBy(col("label")).agg(count(lit(1)).as("c"))
          .agg(max(col("c"))).head
        if (mm.isNullAt(0)) 1L
        else math.max(1L, math.min(BlockMaxB,
          (mm.getLong(0) + BlockSideTarget - 1) / BlockSideTarget))
      }
    }
    if (b <= 1L) return plain
    val bkt = pmod(xxhash64(col("vec_id")), lit(b))
    // row (bucket br) joins as LEFT in blocks (br, j ≥ br) and as RIGHT in
    // blocks (i ≤ br, br): pair {x, y} with distinct buckets meets exactly
    // once (x-left ∩ y-right xor y-left ∩ x-right); same-bucket pairs meet
    // in the diagonal block in BOTH orientations, where idCond applies —
    // exactly the plain join's emission set
    val left = e.withColumn("_bi", bkt)
      .withColumn("_bj", explode(sequence(col("_bi"), lit(b - 1))))
      .select(col("_bi") +: col("_bj") +: aCols: _*)
    val right = e.withColumn("_rj", bkt)
      .withColumn("_ri", explode(sequence(lit(0L), col("_rj"))))
      .select(col("_ri") +: col("_rj") +: bCols: _*)
    val diag = col("_bi") === col("_bj")
    val joined = left.join(right,
      col("_bi") === col("_ri") && col("_bj") === col("_rj") &&
        col("a_label") === col("b_label") &&
        col("a_vec_id").isNotNull && col("b_vec_id").isNotNull &&
        when(diag, idCond).otherwise(lit(true)))
    if (directed) {
      // mixed blocks carry each unordered pair once — explode it into both
      // orientations; diagonal blocks already joined both ways
      val fwd = struct(cols.map(c => col(s"a_$c").as(s"a_$c")) ++
        cols.map(c => col(s"b_$c").as(s"b_$c")): _*)
      val rev = struct(cols.map(c => col(s"b_$c").as(s"a_$c")) ++
        cols.map(c => col(s"a_$c").as(s"b_$c")): _*)
      joined
        .select(explode(when(diag, array(fwd)).otherwise(array(fwd, rev)))
          .as("_p"))
        .select(col("_p.*"))
    } else {
      // mixed blocks join in bucket order, not id order — normalize so the
      // lower vec_id is the `a` role, as the plain ordered join emits
      val lower = col("a_vec_id") < col("b_vec_id")
      joined.select(
        cols.map(c => when(lower, col(s"a_$c")).otherwise(col(s"b_$c"))
          .as(s"a_$c")) ++
        cols.map(c => when(lower, col(s"b_$c")).otherwise(col(s"a_$c"))
          .as(s"b_$c")): _*)
    }
  }

  /** DuckDB CTE body: vectors as doubles + precomputed norm. */
  private val duckE =
    """e AS (
      |  SELECT vec_id, label, v,
      |    sqrt(list_reduce(list_prepend(0.0, list_transform(v, x -> x * x)),
      |      (acc, x) -> acc + x)) AS nrm
      |  FROM (SELECT vec_id, label,
      |          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |        FROM embeddings) e0)""".stripMargin

  /** DuckDB twin of [[cosine]]: pairwise dot fold / precomputed norms. */
  private def duckCos(a: String, b: String, na: String, nb: String): String =
    s"""round(list_reduce(list_prepend(0.0, list_transform(range(1, len($a) + 1),
       |      i -> $a[i] * $b[i])), (acc, x) -> acc + x) / $na / $nb, 6)""".stripMargin

  /** Embedding-cosine near-duplicate pairs, blocked by cluster label: the
    * self-join runs only within blocks (equi-join on `label`), never
    * all-pairs.
    */
  val q34CosineNeardup = Q(
    "q34_cosine_neardup",
    s"""WITH $duckE
       |SELECT vec_a, vec_b, cos FROM (
       |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |    ${duckCos("a.v", "b.v", "a.nrm", "b.nrm")} AS cos
       |  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id) t
       |WHERE cos >= 0.35
       |ORDER BY vec_a NULLS FIRST, vec_b NULLS FIRST""".stripMargin,
  ) { (s, d) =>
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"), vec(col("embedding")).as("v"))
      .withColumn("nrm", norm(col("v")))
    // r20: triangle-blocked pair generator (see blockedSelfPairs) — same
    // pair set, label·B(B+1)/2 parallel units instead of ~10
    blockedSelfPairs(e, directed = false)
      .select(
        col("a_vec_id").as("vec_a"),
        col("b_vec_id").as("vec_b"),
        cosine(col("a_v"), col("b_v"), col("a_nrm"), col("b_nrm")).as("cos"))
      .filter(col("cos") >= 0.35)
      .orderBy(col("vec_a"), col("vec_b"))
  }

  /** Brute-force cosine top-10 for 5 query vectors — the exact baseline the
    * ANN path (q36) is measured against. Query side is broadcast; per-query
    * ranking is a keyed window, not a global sort.
    */
  val q35CosineTopk = Q(
    "q35_cosine_topk",
    s"""WITH $duckE,
       |q AS (SELECT vec_id AS qid, v AS qv, nrm AS qnrm FROM e WHERE vec_id < 5)
       |SELECT qid, vec_id, cos, CAST(rk AS INTEGER) AS rk FROM (
       |  SELECT qid, vec_id, cos,
       |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rk
       |  FROM (
       |    SELECT q.qid, e.vec_id,
       |      ${duckCos("q.qv", "e.v", "q.qnrm", "e.nrm")} AS cos
       |    FROM e JOIN q ON e.vec_id <> q.qid) t1
       |  WHERE cos IS NOT NULL) t2
       |WHERE rk <= 10
       |ORDER BY qid NULLS FIRST, rk NULLS FIRST""".stripMargin,
  ) { (s, d) =>
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), vec(col("embedding")).as("v"))
      .withColumn("nrm", norm(col("v")))
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qnrm"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
    e.join(broadcast(q), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        cosine(col("qv"), col("v"), col("qnrm"), col("nrm")).as("cos"))
      // a NULL cos (zero-norm vector) is not a neighbor — drop BEFORE
      // ranking so it can't consume a top-k slot
      .filter(col("cos").isNotNull)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 10)
      .orderBy(col("qid"), col("rk"))
  }

  // MMR fixed-point geometry: λ = 7/10, pool of 20, 5 picks — shared by the
  // Spark aggregate and the generated oracle so they can never drift.
  private val MmrLamNum = 7L
  private val MmrLamDen = 10L
  private val MmrPoolK = 20
  private val MmrOutK = 5

  /** The q118 greedy recurrence as portable SQL (the q113 discipline:
    * integer fixed point + the loop unrolled into chained CTEs, one per
    * greedy pick). `irel`/`icos` are round-6 cosines ×10⁶ — exact BIGINTs
    * in both engines — so pick-k is a pure integer argmax the oracle can
    * replay bit for bit.
    */
  private val mmrOracle: String = {
    val relCos = duckCos("q.qv", "e.v", "q.qnrm", "e.nrm")
    val rounds = (2 to MmrOutK).map { k =>
      s"""s$k AS (
         |  SELECT p.qid, p.vec_id,
         |    $MmrLamNum * p.irel - ${MmrLamDen - MmrLamNum} * max(pr.icos) AS s
         |  FROM pool p
         |  JOIN pr ON pr.qid = p.qid AND pr.a = p.vec_id
         |  JOIN ch${k - 1} ch ON ch.qid = pr.qid AND ch.vec_id = pr.b
         |  WHERE NOT EXISTS (SELECT 1 FROM ch${k - 1} x
         |                    WHERE x.qid = p.qid AND x.vec_id = p.vec_id)
         |  GROUP BY p.qid, p.vec_id, p.irel),
         |c$k AS (
         |  SELECT qid, vec_id, $k AS rk, s FROM (
         |    SELECT qid, vec_id, s,
         |      row_number() OVER (PARTITION BY qid ORDER BY s DESC, vec_id) AS rn
         |    FROM s$k) t WHERE rn = 1),
         |ch$k AS (SELECT * FROM ch${k - 1} UNION ALL SELECT * FROM c$k)""".stripMargin
    }.mkString(",\n")
    s"""WITH $duckE,
       |q AS (SELECT vec_id AS qid, v AS qv, nrm AS qnrm FROM e WHERE vec_id < 5),
       |rel AS (
       |  SELECT q.qid, e.vec_id,
       |    CAST(round($relCos * 1000000) AS BIGINT) AS irel, e.v, e.nrm
       |  FROM e JOIN q ON e.vec_id <> q.qid
       |  WHERE $relCos IS NOT NULL),
       |pool AS (
       |  SELECT * FROM (
       |    SELECT qid, vec_id, irel, v, nrm,
       |      row_number() OVER (PARTITION BY qid ORDER BY irel DESC, vec_id) AS pk
       |    FROM rel) t WHERE pk <= $MmrPoolK),
       |pr AS (
       |  SELECT p1.qid, p1.vec_id AS a, p2.vec_id AS b,
       |    CAST(round(${duckCos("p1.v", "p2.v", "p1.nrm", "p2.nrm")} * 1000000) AS BIGINT) AS icos
       |  FROM pool p1 JOIN pool p2
       |    ON p1.qid = p2.qid AND p1.vec_id <> p2.vec_id),
       |c1 AS (SELECT qid, vec_id, 1 AS rk, $MmrLamNum * irel AS s
       |       FROM pool WHERE pk = 1),
       |ch1 AS (SELECT * FROM c1),
       |$rounds
       |SELECT qid, vec_id, rk, s AS mmr FROM ch$MmrOutK
       |ORDER BY qid NULLS FIRST, rk NULLS FIRST""".stripMargin
  }

  /** Diversified retrieval re-ranking via Maximal Marginal Relevance —
    * what a RAG serving layer runs between "top-k by cosine" (q35) and the
    * prompt: near-duplicate hits crowd out coverage, so each next pick
    * maximizes λ·relevance − (1−λ)·max-similarity-to-already-picked.
    * The whole operator is ONE [[graft.functions.MmrMicroTopK]] aggregate:
    * the algebraic buffer keeps each query's 20 best-by-relevance
    * candidates with map-side combine (no window sorts the corpus — the
    * q110 plan shape), and the greedy O(20²) rerank runs in finish() on
    * that bounded pool. Scoring lives in INTEGER micro-cosine space
    * (λ = 7/10 as a rational, relevance/redundancy as round-6 cosines ×10⁶)
    * so the greedy recurrence is SQL-expressible after all: [[mmrOracle]]
    * unrolls the 5 picks as chained CTEs and DuckDB hash-matches the
    * result exactly — this used to be rows-only; the fixed-point move is
    * what made it oracle-able. MmrSpec additionally proves both aggregates
    * against independent reimplementations, the pool laws under random
    * partitioning, and that diversification displaces a planted near-dup.
    */
  val q118MmrRerank = Q(
    "q118_mmr_rerank",
    mmrOracle,
  ) { (s, d) =>
    val rerank = udaf(new graft.functions.MmrMicroTopK(
      MmrPoolK, MmrOutK, MmrLamNum, MmrLamDen))
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), vec(col("embedding")).as("v"))
      .withColumn("nrm", norm(col("v")))
    e.join(broadcast(
        e.filter(col("vec_id") < 5)
          .select(col("vec_id").as("qid"), col("v").as("qv"),
            col("nrm").as("qnrm"))),
        col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        round(cosine(col("qv"), col("v"), col("qnrm"), col("nrm"))
          * lit(1000000)).cast("long").as("irel"),
        col("v"))
      .filter(col("irel").isNotNull)
      .groupBy(col("qid"))
      .agg(rerank(col("vec_id"), col("irel"), col("v")).as("picks"))
      .select(col("qid"), explode(col("picks")).as("p"))
      .select(col("qid"), col("p.id").as("vec_id"),
        col("p.rk").as("rk"), col("p.s").as("mmr"))
      .orderBy(col("qid"), col("rk"))
  }

  /** IVF-style ANN: centroids = the first 10 vectors (broadcast), every
    * vector is assigned to its nearest centroid (narrow map + per-vector
    * argmin window), and each query searches ONLY its own cluster — the
    * inverted-file prune that turns per-query cost from N into N/K.
    * Fixed centroids keep the DuckDB twin bit-replayable.
    */
  val q36AnnIvf = Q(
    "q36_ann_ivf",
    s"""WITH $duckE,
       |c AS (SELECT vec_id AS cid, v AS cv, nrm AS cnrm FROM e WHERE vec_id < 10),
       |scored AS (
       |  SELECT e.vec_id, c.cid,
       |    ${duckCos("e.v", "c.cv", "e.nrm", "c.cnrm")} AS cos FROM e, c),
       |assigned AS (
       |  SELECT vec_id, cid AS cluster FROM (
       |    SELECT vec_id, cid,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn
       |    FROM scored) t WHERE rn = 1),
       |q AS (
       |  SELECT a.vec_id AS qid, a.cluster, e.v AS qv, e.nrm AS qnrm
       |  FROM assigned a JOIN e ON a.vec_id = e.vec_id WHERE a.vec_id < 5),
       |cand AS (
       |  SELECT q.qid, q.cluster, a.vec_id
       |  FROM q JOIN assigned a ON q.cluster = a.cluster AND a.vec_id <> q.qid)
       |SELECT qid, cluster, vec_id, cos, CAST(rk AS INTEGER) AS rk FROM (
       |  SELECT s.qid, s.cluster, s.vec_id, s.cos,
       |    row_number() OVER (PARTITION BY s.qid ORDER BY s.cos DESC, s.vec_id) AS rk
       |  FROM (
       |    SELECT cand.qid, cand.cluster, cand.vec_id,
       |      ${duckCos("q.qv", "e.v", "q.qnrm", "e.nrm")} AS cos
       |    FROM cand JOIN e ON cand.vec_id = e.vec_id JOIN q ON cand.qid = q.qid) s
       |  WHERE s.cos IS NOT NULL) t
       |WHERE rk <= 5
       |ORDER BY qid NULLS FIRST, rk NULLS FIRST""".stripMargin,
  ) { (s, d) =>
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), vec(col("embedding")).as("v"))
      .withColumn("nrm", norm(col("v")))
    val c = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("cid"), col("v").as("cv"), col("nrm").as("cnrm"))
    val assignW = Window.partitionBy(col("vec_id")).orderBy(col("cos").desc, col("cid"))
    val assigned = e.crossJoin(broadcast(c))
      .select(col("vec_id"), col("cid"),
        cosine(col("v"), col("cv"), col("nrm"), col("cnrm")).as("cos"))
      .withColumn("rn", row_number().over(assignW))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("cid").as("cluster"))
    val q = assigned.filter(col("vec_id") < 5)
      .join(e, "vec_id")
      .select(col("vec_id").as("qid"), col("cluster"),
        col("v").as("qv"), col("nrm").as("qnrm"))
    val cand = broadcast(q.as("qq"))
      .join(assigned.as("a"),
        col("qq.cluster") === col("a.cluster") && col("a.vec_id") =!= col("qq.qid"))
      .select(col("qq.qid").as("qid"), col("qq.cluster").as("cluster"),
        col("a.vec_id").as("vec_id"), col("qq.qv").as("qv"), col("qq.qnrm").as("qnrm"))
    val rankW = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
    cand.as("cd")
      .join(e.as("e2"), col("cd.vec_id") === col("e2.vec_id"))
      .select(col("cd.qid").as("qid"), col("cd.cluster").as("cluster"),
        col("cd.vec_id").as("vec_id"),
        cosine(col("cd.qv"), col("e2.v"), col("cd.qnrm"), col("e2.nrm")).as("cos"))
      // NULL cos (zero-norm member) is not a neighbor (see q35)
      .filter(col("cos").isNotNull)
      .withColumn("rk", row_number().over(rankW))
      .filter(col("rk") <= 5)
      .orderBy(col("qid"), col("rk"))
  }

  /** Multi-probe IVF ANN — q36 with the standard `nprobe` recall dial:
    * each query searches its TWO nearest clusters instead of one, so a
    * neighbor that fell just across the Voronoi boundary (the dominant
    * IVF miss mode) is back in the candidate set at 2×N/K per-query cost.
    * Same fixed replayable centroids as q36 so the DuckDB twin verifies
    * probe selection, candidate generation, and ranking bit-for-bit.
    * Plan shape is unchanged — probes stay a broadcast-sized
    * (queries × nprobe) frame, candidates come only from the cluster
    * equi-join, never a corpus product.
    */
  val q100AnnIvfNprobe = Q(
    "q100_ann_ivf_nprobe",
    s"""WITH $duckE,
       |c AS (SELECT vec_id AS cid, v AS cv, nrm AS cnrm FROM e WHERE vec_id < 10),
       |scored AS (
       |  SELECT e.vec_id, c.cid,
       |    ${duckCos("e.v", "c.cv", "e.nrm", "c.cnrm")} AS cos FROM e, c),
       |ranked AS (
       |  SELECT vec_id, cid,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn
       |  FROM scored),
       |assigned AS (SELECT vec_id, cid AS cluster FROM ranked WHERE rn = 1),
       |probes AS (
       |  SELECT vec_id AS qid, cid AS cluster FROM ranked
       |  WHERE rn <= 2 AND vec_id < 5),
       |q AS (SELECT vec_id AS qid, v AS qv, nrm AS qnrm FROM e WHERE vec_id < 5),
       |cand AS (
       |  SELECT p.qid, p.cluster, a.vec_id
       |  FROM probes p JOIN assigned a
       |    ON p.cluster = a.cluster AND a.vec_id <> p.qid)
       |SELECT qid, cluster, vec_id, cos, CAST(rk AS INTEGER) AS rk FROM (
       |  SELECT s.qid, s.cluster, s.vec_id, s.cos,
       |    row_number() OVER (PARTITION BY s.qid ORDER BY s.cos DESC, s.vec_id) AS rk
       |  FROM (
       |    SELECT cand.qid, cand.cluster, cand.vec_id,
       |      ${duckCos("q.qv", "e.v", "q.qnrm", "e.nrm")} AS cos
       |    FROM cand JOIN e ON cand.vec_id = e.vec_id JOIN q ON cand.qid = q.qid) s
       |  WHERE s.cos IS NOT NULL) t
       |WHERE rk <= 5
       |ORDER BY qid NULLS FIRST, rk NULLS FIRST""".stripMargin,
  ) { (s, d) =>
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), vec(col("embedding")).as("v"))
      .withColumn("nrm", norm(col("v")))
    val c = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("cid"), col("v").as("cv"), col("nrm").as("cnrm"))
    val rnW = Window.partitionBy(col("vec_id")).orderBy(col("cos").desc, col("cid"))
    val ranked = e.crossJoin(broadcast(c))
      .select(col("vec_id"), col("cid"),
        cosine(col("v"), col("cv"), col("nrm"), col("cnrm")).as("cos"))
      .withColumn("rn", row_number().over(rnW))
    val assigned = ranked.filter(col("rn") === 1)
      .select(col("vec_id"), col("cid").as("cluster"))
    val probes = ranked.filter(col("rn") <= 2 && col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("cid").as("cluster"))
    val qvec = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qnrm"))
    val rankW = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
    broadcast(probes.join(qvec, "qid").as("qq"))
      .join(assigned.as("a"),
        col("qq.cluster") === col("a.cluster") && col("a.vec_id") =!= col("qq.qid"))
      .select(col("qq.qid").as("qid"), col("qq.cluster").as("cluster"),
        col("a.vec_id").as("vec_id"), col("qq.qv").as("qv"), col("qq.qnrm").as("qnrm"))
      .as("cd")
      .join(e.as("e2"), col("cd.vec_id") === col("e2.vec_id"))
      .select(col("cd.qid").as("qid"), col("cd.cluster").as("cluster"),
        col("cd.vec_id").as("vec_id"),
        cosine(col("cd.qv"), col("e2.v"), col("cd.qnrm"), col("e2.nrm")).as("cos"))
      .filter(col("cos").isNotNull) // zero-norm members are not neighbors (q35)
      .withColumn("rk", row_number().over(rankW))
      .filter(col("rk") <= 5)
      .orderBy(col("qid"), col("rk"))
  }

  /** SRP-LSH bucketed ANN — the second scale path beside IVF (q36): 8
    * signed-random-projection hyperplanes hash every vector to an 8-bit
    * bucket, and each query searches ONLY its own bucket (N → N/2^H on
    * spread data; buckets align with clusters on clustered data).
    *
    * The hyperplane components are ±1 coins derived from md5(p|i), so both
    * engines build bit-identical hyperplanes from nothing but the (plane,
    * dim) index — no RNG, no shipped model. Cross-engine float safety: the
    * projection Σ sgn(p,i)·v[i] is summed over INTEGERS — each component
    * quantized to 1e-6 (round(x·1e6) as long, identical half-away-from-zero
    * rounding in both engines) — so the sum is exact and order-independent
    * and the bucket bit (its sign) cannot be flipped by float addition
    * reorder, upholding the repo's pinned-reduction rule for every value
    * an oracle compare consumes. The ranked cosine reuses the pinned-fold
    * helpers.
    *
    * 100 TB shape: the sign table is 8×64 rows (broadcast); projections are
    * a posexplode + one map-side-combined hash aggregate (no per-vector
    * lambda folds); queries are broadcast; the only data shuffle is the
    * bucket hash aggregate.
    */
  val q64AnnSrp = Q(
    "q64_ann_srp",
    s"""WITH $duckE,
       |planes AS (SELECT unnest(range(0, 8)) AS p),
       |dims AS (SELECT unnest(range(1, 65)) AS i),
       |sg AS (SELECT p, i,
       |  CASE WHEN substr(md5(p || '|' || i), 1, 1) >= '8'
       |    THEN 1 ELSE -1 END AS sgn
       |  FROM planes, dims),
       |proj AS (
       |  SELECT e.vec_id, sg.p,
       |    sum(sg.sgn * CAST(round(e.v[sg.i] * 1000000) AS BIGINT)) AS pr
       |  FROM e, sg GROUP BY 1, 2),
       |b AS (
       |  SELECT vec_id,
       |    string_agg(CASE WHEN pr >= 0 THEN '1' ELSE '0' END, '' ORDER BY p)
       |      AS bucket
       |  FROM proj GROUP BY 1),
       |eb AS (SELECT e.vec_id, e.v, e.nrm, b.bucket
       |       FROM e JOIN b ON e.vec_id = b.vec_id),
       |q AS (SELECT vec_id AS qid, bucket AS qbucket, v AS qv, nrm AS qnrm
       |      FROM eb WHERE vec_id < 5)
       |SELECT qid, bucket, vec_id, cos, CAST(rk AS INTEGER) AS rk FROM (
       |  SELECT qid, bucket, vec_id, cos,
       |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rk
       |  FROM (
       |    SELECT q.qid, eb.bucket, eb.vec_id,
       |      ${duckCos("q.qv", "eb.v", "q.qnrm", "eb.nrm")} AS cos
       |    FROM eb JOIN q ON eb.bucket = q.qbucket AND eb.vec_id <> q.qid) t1) t2
       |WHERE rk <= 5
       |ORDER BY qid NULLS FIRST, rk NULLS FIRST""".stripMargin,
  ) { (s, d) =>
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), vec(col("embedding")).as("v"))
      .withColumn("nrm", norm(col("v")))
    val signs = s.range(0, 8 * 64)
      .select((col("id") / 64).cast("long").as("p"),
        (col("id") % 64 + 1).as("i"))
      .select(col("p"), col("i"),
        when(substring(md5(concat(col("p").cast("string"), lit("|"),
          col("i").cast("string"))), 1, 1) >= "8", 1L)
          .otherwise(-1L).as("sgn"))
    val proj = e
      .select(col("vec_id"), posexplode(col("v")).as(Seq("pos", "x")))
      .select(col("vec_id"), (col("pos") + 1).as("i"),
        round(col("x") * 1e6).cast("long").as("xq"))
      .join(broadcast(signs), "i")
      .groupBy(col("vec_id"), col("p"))
      .agg(sum(col("sgn") * col("xq")).as("pr"))
    val bits = (0 until 8).map(k =>
      max(when(col("p") === k,
        when(col("pr") >= 0, "1").otherwise("0"))).as(s"b$k"))
    val buckets = proj.groupBy(col("vec_id")).agg(bits.head, bits.tail: _*)
      .select(col("vec_id"),
        concat((0 until 8).map(k => col(s"b$k")): _*).as("bucket"))
    val eb = e.join(buckets, "vec_id")
    val q = eb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("bucket").as("qbucket"),
        col("v").as("qv"), col("nrm").as("qnrm"))
    val rankW = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
    eb.join(broadcast(q),
        col("bucket") === col("qbucket") && col("vec_id") =!= col("qid"))
      .select(col("qid"), col("bucket"), col("vec_id"),
        cosine(col("qv"), col("v"), col("qnrm"), col("nrm")).as("cos"))
      .withColumn("rk", row_number().over(rankW))
      .filter(col("rk") <= 5)
      .orderBy(col("qid"), col("rk"))
  }

  /** Int8 embedding quantization accounting — the compression step a
    * 100 TB vector corpus takes before ANN serving (4× smaller than f32,
    * SIMD-friendly dot products). Symmetric absmax scheme per vector:
    * q_i = round(127·x_i / absmax). ALL math runs in the integer domain
    * (components are first fixed-pointed to 1e-6 via the q64-proven
    * `round(x·1e6)::long` idiom, and the reconstruction error
    * |127·x_i − q_i·absmax| is an exact integer) so the oracle comparison
    * is bit-exact — no float-fold ordering anywhere; the only doubles are
    * one final division per vector, identically associated in both
    * engines. Shape at scale: posexplode → ONE shuffle on vec_id; the
    * absmax window and the final aggregate share that partitioning, so
    * the whole query is a single exchange + two pipelined stages.
    */
  val q72Int8Quant = Q(
    "q72_int8_quant",
    """WITH e AS (
      |  SELECT vec_id,
      |    list_transform(embedding,
      |      x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS xq
      |  FROM embeddings
      |),
      |a AS (
      |  SELECT vec_id, xq, len(xq) AS n_dims,
      |    list_max(list_transform(xq, v -> abs(v))) AS amax
      |  FROM e
      |),
      |q AS (
      |  SELECT vec_id, n_dims, amax, xq,
      |    list_transform(xq, v -> CAST(round(127 * v / amax) AS BIGINT)) AS qs
      |  FROM a WHERE amax > 0
      |)
      |SELECT vec_id, n_dims, amax,
      |  CAST(list_sum(qs) AS BIGINT) AS sum_q,
      |  len(list_filter(qs, v -> abs(v) = 127)) AS n_sat,
      |  round(CAST(list_sum(list_transform(range(1, n_dims + 1),
      |    i -> abs(127 * xq[i] - qs[i] * amax))) AS DOUBLE)
      |    / (127.0 * amax * n_dims), 6) AS rel_err
      |FROM q
      |ORDER BY vec_id NULLS FIRST""".stripMargin,
  ) { (s, d) =>
    val byVec = Window.partitionBy(col("vec_id"))
    Tables.embeddings(s, d)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .select(col("vec_id"),
        round(col("x").cast("double") * 1e6).cast("long").as("xq"))
      .withColumn("amax", max(abs(col("xq"))).over(byVec))
      .withColumn("n_dims", count(lit(1)).over(byVec))
      .filter(col("amax") > 0)
      .withColumn("qv", round(lit(127) * col("xq") / col("amax")).cast("long"))
      .groupBy(col("vec_id"), col("n_dims"), col("amax"))
      .agg(
        sum(col("qv")).cast("long").as("sum_q"),
        count(when(abs(col("qv")) === 127, lit(1))).as("n_sat"),
        round(sum(abs(lit(127) * col("xq") - col("qv") * col("amax")))
          .cast("double")
          / (lit(127.0) * col("amax") * col("n_dims")), 6).as("rel_err"))
      .select(col("vec_id"), col("n_dims"), col("amax"), col("sum_q"),
        col("n_sat"), col("rel_err"))
      .orderBy(col("vec_id"))
  }

  /** SemDeDup-style semantic deduplication: prune a vector when a
    * LOWER-id vector in the same cluster block is cosine-similar above
    * the threshold (Abbas et al. 2023 keep one representative per
    * semantic near-dup group; lowest-id is the deterministic stand-in
    * for their "keep the medoid" choice). The rule is dominance by ANY
    * lower-id block-mate — a kept doc may itself dominate several others,
    * and a dominated doc still dominates nothing it wasn't already paired
    * with, so the output is order-free and replayable.
    *
    * Shape at scale = q34's: pair generation is an equi-join on the
    * blocking key (label here; the IVF/k-means assignment in production),
    * never all-pairs, and the prune itself is a LEFT ANTI join against
    * the distinct dominated set — both hash joins on scalar keys. The
    * survivor-count window shares the anti-join's label partitioning.
    */
  val q102SemanticDedup = Q(
    "q102_semantic_dedup",
    s"""WITH $duckE,
       |dropped AS (
       |  SELECT DISTINCT b.vec_id
       |  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
       |  WHERE ${duckCos("a.v", "b.v", "a.nrm", "b.nrm")} >= 0.35)
       |SELECT e.vec_id, e.label,
       |  CAST(count(*) OVER (PARTITION BY e.label) AS BIGINT) AS n_kept_in_label
       |FROM e LEFT JOIN dropped d ON e.vec_id = d.vec_id
       |WHERE d.vec_id IS NULL
       |ORDER BY e.vec_id NULLS FIRST""".stripMargin,
  ) { (s, d) =>
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"), vec(col("embedding")).as("v"))
      .withColumn("nrm", norm(col("v")))
    // r20: triangle-blocked pair generator (see blockedSelfPairs) — the
    // ordered form's `b` role is the HIGHER vec_id, exactly the dominance
    // direction the prune drops
    val dropped = blockedSelfPairs(e, directed = false)
      .filter(cosine(col("a_v"), col("b_v"), col("a_nrm"), col("b_nrm")) >= 0.35)
      .select(col("b_vec_id").as("vec_id"))
      .distinct()
    e.join(dropped, Seq("vec_id"), "left_anti")
      .withColumn("n_kept_in_label",
        count(lit(1)).over(Window.partitionBy(col("label"))))
      .select(col("vec_id"), col("label"), col("n_kept_in_label"))
      .orderBy(col("vec_id"))
  }

  /** PQ geometry: 64 dims → 8 subspaces × 8 dims, 32 codes per subspace
    * (codebook = the first 32 vectors' slices — fixed, like q36's
    * centroids, so the oracle replays bit-for-bit). 8×log2(32) = 40 bits
    * per vector — finer than the first-cut 4×16 geometry, whose ADC
    * recall@5 on the 500-vector fixture was 0.24; this one clears 0.5
    * (PqSpec) at a codebook of 32×8 = 256 rows, still broadcast-trivial.
    *
    * PRECONDITION: vectors carry exactly PqSubs×PqDim = 64 components —
    * the fixture schema. Shorter vectors would slice to empty subvectors
    * (Spark) vs NULL-padded ones (DuckDB) and the engines would diverge;
    * a production build parameterizes the geometry per embedding model.
    */
  private[graft] val PqSubs = 8
  private[graft] val PqDim = 8
  private[graft] val PqCodes = 32

  /** Fixed-point subvector rows: one (vec_id, sub, sv: ARRAY<BIGINT>) row
    * per vector per subspace, components scaled by 1e6 (the q72 idiom) so
    * every distance downstream is an exact integer.
    */
  private def pqSubvectors(e: org.apache.spark.sql.DataFrame) =
    e.select(col("vec_id"),
        transform(col("embedding"),
          x => round(x.cast("double") * 1e6).cast("long")).as("xq"))
      .select(col("vec_id"), explode(sequence(lit(0), lit(PqSubs - 1))).as("sub"),
        col("xq"))
      .select(col("vec_id"), col("sub"),
        slice(col("xq"), col("sub") * PqDim + 1, lit(PqDim)).as("sv"))

  /** Exact integer squared L2 between two fixed-point subvectors, through
    * the codegen'd `graft_l2sq_i64` (semantics pinned to the
    * `aggregate(zip_with(...))` left fold it replaced — the interpreted HOF
    * was the PQ hot-path cost center, evaluated rows×subs×codes times).
    * All BIGINT ((2·10^6)²·16 ≈ 6·10^13 « 2^63).
    */
  private def dist2(a: Column, b: Column): Column =
    call_function("graft_l2sq_i64", a, b)

  /** DuckDB twin of [[pqSubvectors]]: CTE yielding (vec_id, sub, sv). */
  private val duckPqSv =
    s"""sv AS (
       |  SELECT vec_id, s.sub,
       |    list_transform(range($PqDim * s.sub + 1, $PqDim * s.sub + $PqDim + 1),
       |      i -> CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT)) AS sv
       |  FROM embeddings, (SELECT unnest(range(0, $PqSubs)) AS sub) s)""".stripMargin

  /** DuckDB twin of [[dist2]]. */
  private def duckDist2(a: String, b: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(range(1, $PqDim + 1),
       |        i -> ($a[i] - $b[i]) * ($a[i] - $b[i]))), (acc, x) -> acc + x)""".stripMargin

  /** Product-quantization encoding + distortion accounting — the
    * compression step between q72's scalar int8 and a full ANN index: each
    * vector becomes [[PqSubs]] 4-bit code ids (here one byte each), a
    * 64× byte-shrink of the f32 vector, and `dist2_total` is the exact
    * integer quantization distortion the codebook must answer for.
    *
    * Everything after the 1e-6 fixed-pointing is INTEGER math (squared L2
    * over BIGINT components), so argmin needs no float-tolerance anywhere
    * and the oracle hash-matches exactly; ties break to the lowest code id.
    *
    * Shape at scale: the codebook is [[PqCodes]]×[[PqSubs]] = 64 tiny rows
    * — broadcast; assignment is a narrow map over (vec_id, sub) rows (one
    * explode, no shuffle), and the per-vector re-pivot is ONE hash
    * aggregate keyed by vec_id. No all-pairs anything; at 100 TB the scan
    * dominates, exactly as a FAISS PQ build does.
    */
  val q103PqEncode = Q(
    "q103_pq_encode",
    s"""WITH $duckPqSv,
       |cb AS (SELECT vec_id AS code_id, sub, sv AS cv FROM sv WHERE vec_id < $PqCodes),
       |scored AS (
       |  SELECT sv.vec_id, sv.sub, cb.code_id,
       |    ${duckDist2("sv.sv", "cb.cv")} AS d2
       |  FROM sv JOIN cb ON sv.sub = cb.sub),
       |assigned AS (
       |  SELECT vec_id, sub, code_id, d2 FROM (
       |    SELECT vec_id, sub, code_id, d2,
       |      row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2, code_id) AS rn
       |    FROM scored) t WHERE rn = 1)
       |SELECT vec_id,
       |${(0 until PqSubs).map(i =>
          s"  CAST(max(CASE WHEN sub = $i THEN code_id END) AS BIGINT) AS c$i,")
          .mkString("\n")}
       |  CAST(sum(d2) AS BIGINT) AS dist2_total
       |FROM assigned GROUP BY vec_id
       |ORDER BY vec_id NULLS FIRST""".stripMargin,
  ) { (s, d) =>
    val sv = pqSubvectors(Tables.embeddings(s, d))
    val cb = sv.filter(col("vec_id") < PqCodes)
      .select(col("vec_id").as("code_id"), col("sub"), col("sv").as("cv"))
    // argmin as min_by over (d2, code_id) — a hash aggregate with map-side
    // combine (32 scored rows fold to 1 per (vec_id, sub) BEFORE the
    // exchange), where the row_number window shuffled and sorted every
    // scored row; (d2, code_id) struct order has a unique minimum, so the
    // selection — including the d2-tie → lowest-code rule — is identical
    val assigned = sv.join(broadcast(cb), Seq("sub"))
      .select(col("vec_id"), col("sub"), col("code_id"),
        dist2(col("sv"), col("cv")).as("d2"))
      .groupBy(col("vec_id"), col("sub"))
      .agg(
        min_by(col("code_id"), struct(col("d2"), col("code_id"))).as("code_id"),
        min(col("d2")).as("d2"))
    val codeCols = (0 until PqSubs).map(i =>
      max(when(col("sub") === i, col("code_id"))).cast("long").as(s"c$i"))
    val aggs = codeCols :+ sum(col("d2")).cast("long").as("dist2_total")
    assigned
      .groupBy(col("vec_id"))
      .agg(aggs.head, aggs.tail: _*)
      .orderBy(col("vec_id"))
  }

  /** PQ asymmetric-distance (ADC) top-k — how a PQ index is actually
    * searched: the query stays EXACT while every database vector is
    * replaced by its [[q103PqEncode]] codes, so one query precomputes a
    * [[PqSubs]]×[[PqCodes]] table of exact subspace distances and each
    * candidate's approximate distance is just [[PqSubs]] table lookups —
    * no per-candidate vector math at all.
    *
    * All distances are exact integers (fixed-point squared L2), so the
    * ADC sum, ranking, and oracle hash are deterministic end to end.
    *
    * Shape at scale: the distance table is 5 queries × 64 cells —
    * broadcast; code assignments are the q103 narrow map; the lookup is a
    * broadcast hash join on (qid-independent) (sub, code_id) followed by
    * ONE hash aggregate keyed (qid, vec_id) and a per-qid top-k window.
    * Scan-bound, shuffle-light — the same reason FAISS serves billions of
    * vectors from PQ codes. Recall vs the exact scan is asserted in
    * `PqSpec` (ADC is approximate; the driver check pins its exact rows).
    */
  val q104PqAdcTopk = Q(
    "q104_pq_adc_topk",
    s"""WITH $duckPqSv,
       |cb AS (SELECT vec_id AS code_id, sub, sv AS cv FROM sv WHERE vec_id < $PqCodes),
       |scored AS (
       |  SELECT sv.vec_id, sv.sub, cb.code_id,
       |    ${duckDist2("sv.sv", "cb.cv")} AS d2
       |  FROM sv JOIN cb ON sv.sub = cb.sub),
       |assigned AS (
       |  SELECT vec_id, sub, code_id FROM (
       |    SELECT vec_id, sub, code_id,
       |      row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2, code_id) AS rn
       |    FROM scored) t WHERE rn = 1),
       |dt AS (
       |  SELECT q.vec_id AS qid, cb.sub, cb.code_id,
       |    ${duckDist2("q.sv", "cb.cv")} AS pd2
       |  FROM sv q JOIN cb ON q.sub = cb.sub WHERE q.vec_id < 5),
       |adist AS (
       |  SELECT dt.qid, a.vec_id, CAST(sum(dt.pd2) AS BIGINT) AS adist
       |  FROM assigned a JOIN dt ON a.sub = dt.sub AND a.code_id = dt.code_id
       |  WHERE a.vec_id <> dt.qid
       |  GROUP BY dt.qid, a.vec_id)
       |SELECT qid, vec_id, adist, CAST(rk AS INTEGER) AS rk FROM (
       |  SELECT qid, vec_id, adist,
       |    row_number() OVER (PARTITION BY qid ORDER BY adist, vec_id) AS rk
       |  FROM adist) t
       |WHERE rk <= 5
       |ORDER BY qid NULLS FIRST, rk NULLS FIRST""".stripMargin,
  ) { (s, d) =>
    val sv = pqSubvectors(Tables.embeddings(s, d))
    val cb = sv.filter(col("vec_id") < PqCodes)
      .select(col("vec_id").as("code_id"), col("sub"), col("sv").as("cv"))
    // same min_by argmin as q103: map-side-combined hash aggregate, no
    // window sort over the rows×codes scored mass
    val assigned = sv.join(broadcast(cb), Seq("sub"))
      .select(col("vec_id"), col("sub"), col("code_id"),
        dist2(col("sv"), col("cv")).as("d2"))
      .groupBy(col("vec_id"), col("sub"))
      .agg(min_by(col("code_id"), struct(col("d2"), col("code_id"))).as("code_id"))
    val dt = sv.filter(col("vec_id") < 5).as("q")
      .join(broadcast(cb).as("cb"), col("q.sub") === col("cb.sub"))
      .select(col("q.vec_id").as("qid"), col("cb.sub").as("sub"),
        col("cb.code_id").as("code_id"),
        dist2(col("q.sv"), col("cb.cv")).as("pd2"))
    val rankW = Window.partitionBy(col("qid")).orderBy(col("adist"), col("vec_id"))
    assigned.as("a")
      .join(broadcast(dt).as("dt"),
        col("a.sub") === col("dt.sub") && col("a.code_id") === col("dt.code_id") &&
          col("a.vec_id") =!= col("dt.qid"))
      .groupBy(col("dt.qid").as("qid"), col("a.vec_id").as("vec_id"))
      .agg(sum(col("dt.pd2")).cast("long").as("adist"))
      .withColumn("rk", row_number().over(rankW))
      .filter(col("rk") <= 5)
      .orderBy(col("qid"), col("rk"))
  }

  /** Reciprocal-rank-fusion micro-score in INTEGER space: the half-up
    * 6-decimal rounding of 1/(60+rank) scaled by 10⁶ ([[Exact.ratio6]]'s
    * integer core), so fused scores sum as BIGINTs and divide by 10⁶
    * exactly once — bit-equal across engines with no decimal plumbing.
    * NULL rank (doc absent from that ranker) → NULL → coalesced to 0.
    * `div`/`//` is the only dialect split.
    */
  private def rrfMicro(rank: String, intDiv: String): String =
    s"coalesce((2 * 1000000 + (60 + CAST($rank AS BIGINT))) " +
      s"$intDiv (2 * (60 + CAST($rank AS BIGINT))), 0)"

  /** Hybrid retrieval with reciprocal-rank fusion (RRF, Cormack et al.
    * 2009; the fusion every lexical+vector RAG stack runs): query-by-
    * example on doc 0, ranked independently by
    *  - LEXICAL: distinct-token Jaccard against the query doc's token set
    *    (exact integers via ratio6 — no BM25 float parity to chase here;
    *    q101 covers BM25 itself), and
    *  - SEMANTIC: q35's rounded cosine over the embedded subset of the
    *    corpus (vec_id ⊂ doc_id domain — only part of a 100 TB corpus is
    *    ever embedded, and RRF's full-outer fusion is exactly how the two
    *    unequal candidate sets reconcile);
    * top-20 from each, fused by Σ 1/(60+rank) with k=60, top-10 out.
    *
    * Shape at scale: the query side of BOTH rankers is one doc —
    * broadcast; each ranker is one corpus scan + one hash aggregate (or
    * one vector map) ended by a global top-20 = TakeOrderedAndProject
    * (never a corpus-wide window — the rank window runs AFTER the limit,
    * over 20 rows); the fusion joins two 20-row lists. Nothing quadratic,
    * no full-width shuffle at any point.
    */
  val q105RrfHybrid = Q(
    "q105_rrf_hybrid",
    s"""WITH $duckE,
       |qt AS (
       |  SELECT DISTINCT unnest(string_split(text, ' ')) AS tok
       |  FROM documents WHERE doc_id = 0),
       |qn AS (SELECT count(*) AS qn FROM qt),
       |dt AS (
       |  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
       |  FROM documents WHERE doc_id <> 0),
       |lexagg AS (
       |  SELECT dt.doc_id, count(*) AS nd,
       |    count(CASE WHEN qt.tok IS NOT NULL THEN 1 END) AS ni
       |  FROM dt LEFT JOIN qt ON dt.tok = qt.tok
       |  GROUP BY dt.doc_id),
       |lex AS (
       |  SELECT doc_id,
       |    row_number() OVER (ORDER BY jacc DESC, doc_id) AS lex_rank
       |  FROM (
       |    SELECT lexagg.doc_id,
       |      ${graft.functions.Exact.Sql.ratio6("ni", "nd + qn.qn - ni")} AS jacc
       |    FROM lexagg CROSS JOIN qn WHERE ni > 0
       |    ORDER BY jacc DESC, doc_id LIMIT 20) t),
       |qv AS (SELECT v, nrm FROM e WHERE vec_id = 0),
       |sem AS (
       |  SELECT doc_id,
       |    row_number() OVER (ORDER BY cos DESC, doc_id) AS sem_rank
       |  FROM (
       |    SELECT e.vec_id AS doc_id,
       |      ${duckCos("e.v", "qv.v", "e.nrm", "qv.nrm")} AS cos
       |    FROM e CROSS JOIN qv WHERE e.vec_id <> 0
       |    ORDER BY cos DESC, doc_id LIMIT 20) t)
       |SELECT doc_id, CAST(lex_rank AS INTEGER) AS lex_rank,
       |  CAST(sem_rank AS INTEGER) AS sem_rank, rrf_score
       |FROM (
       |  SELECT COALESCE(l.doc_id, s.doc_id) AS doc_id,
       |    l.lex_rank, s.sem_rank,
       |    CAST(${rrfMicro("l.lex_rank", "//")}
       |       + ${rrfMicro("s.sem_rank", "//")} AS DOUBLE) / 1000000.0
       |      AS rrf_score
       |  FROM lex l FULL JOIN sem s ON l.doc_id = s.doc_id) f
       |ORDER BY rrf_score DESC, doc_id NULLS FIRST
       |LIMIT 10""".stripMargin,
  ) { (s, d) =>
    val docs = Fan.fan(Tables.documents(s, d))
      .select(col("doc_id"), col("text"))
    val dtok = docs.select(col("doc_id"),
      explode(array_distinct(split(col("text"), " "))).as("tok"))
    val qt = dtok.filter(col("doc_id") === 0).select(col("tok"))
    val qn = qt.agg(count(lit(1)).as("qn"))
    val lexScored = dtok.filter(col("doc_id") =!= 0)
      .join(broadcast(qt.withColumn("hit", lit(1))), Seq("tok"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("nd"), count(col("hit")).as("ni"))
      .filter(col("ni") > 0)
      .crossJoin(broadcast(qn))
      .select(col("doc_id"),
        graft.functions.Exact.ratio6("ni", "nd + qn - ni").as("jacc"))
    val lex = lexScored.orderBy(col("jacc").desc, col("doc_id")).limit(20)
      .withColumn("lex_rank", row_number().over(
        Window.orderBy(col("jacc").desc, col("doc_id"))))
      .select(col("doc_id"), col("lex_rank"))
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), vec(col("embedding")).as("v"))
      .withColumn("nrm", norm(col("v")))
    val qv = e.filter(col("vec_id") === 0)
      .select(col("v").as("qv"), col("nrm").as("qnrm"))
    val semScored = e.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(qv))
      .select(col("vec_id").as("doc_id"),
        cosine(col("v"), col("qv"), col("nrm"), col("qnrm")).as("cos"))
    val sem = semScored.orderBy(col("cos").desc, col("doc_id")).limit(20)
      .withColumn("sem_rank", row_number().over(
        Window.orderBy(col("cos").desc, col("doc_id"))))
      .select(col("doc_id"), col("sem_rank"))
    lex.join(sem, Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("lex_rank"), col("sem_rank"),
        expr(s"CAST(${rrfMicro("lex_rank", "div")} " +
          s"+ ${rrfMicro("sem_rank", "div")} AS DOUBLE) / 1000000.0")
          .as("rrf_score"))
      .orderBy(col("rrf_score").desc, col("doc_id"))
      .limit(10)
  }

  /** CONTRASTIVE TRIPLE MINING — the training-pair generator for embedding
    * models: per anchor (the 5 query vectors), the nearest SAME-label
    * vector is the positive and the 3 nearest DIFFERENT-label vectors are
    * the hard negatives — near neighbors the model currently confuses
    * across the class boundary, exactly the pairs a contrastive /
    * triplet-loss fine-tune wants (random negatives are too easy to carry
    * gradient). Labels stand in for the dedup-cluster / supervision signal;
    * in a production corpus the same query runs with q74's component ids.
    *
    * Exactness: cosines go through the shared round-6 `cosine` helper and
    * ranking orders by the ROUNDED value with vec_id tiebreak — the same
    * total order the DuckDB twin replays; zero-norm vectors (NULL cosine)
    * are dropped before ranking, the q35 house rule.
    *
    * Plan: anchors BROADCAST against one scan of the corpus (the q35
    * shape), cosines once per (anchor, vector), then ONE window keyed by
    * (anchor, same-label side) — positives and negatives rank in the same
    * pass, no second scan, no self-join. At 100 TB the scan side stays
    * partition-local until the per-anchor top-k.
    */
  val q167HardNegatives = Q(
    "q167_hard_negatives",
    s"""WITH $duckE,
       |q AS (SELECT vec_id AS qid, label AS qlabel, v AS qv, nrm AS qnrm
       |      FROM e WHERE vec_id < 5),
       |sc AS (
       |  SELECT q.qid, q.qlabel, e.vec_id, e.label,
       |    ${duckCos("q.qv", "e.v", "q.qnrm", "e.nrm")} AS cos,
       |    CASE WHEN e.label = q.qlabel THEN 1 ELSE 0 END AS same
       |  FROM e JOIN q ON e.vec_id <> q.qid
       |  WHERE ${duckCos("q.qv", "e.v", "q.qnrm", "e.nrm")} IS NOT NULL
       |),
       |rk AS (
       |  SELECT qid, vec_id, label, cos, same,
       |    row_number() OVER (PARTITION BY qid, same
       |      ORDER BY cos DESC, vec_id) AS rk
       |  FROM sc
       |)
       |SELECT qid, CASE WHEN same = 1 THEN 'pos' ELSE 'neg' END AS role,
       |  CAST(rk AS INTEGER) AS rk, vec_id, CAST(label AS INTEGER) AS label,
       |  cos
       |FROM rk
       |WHERE (same = 1 AND rk = 1) OR (same = 0 AND rk <= 3)
       |ORDER BY qid NULLS FIRST, role NULLS FIRST, rk NULLS FIRST""".stripMargin,
  ) { (s, d) =>
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"), vec(col("embedding")).as("v"))
      .withColumn("nrm", norm(col("v")))
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("label").as("qlabel"),
        col("v").as("qv"), col("nrm").as("qnrm"))
    val w = Window.partitionBy(col("qid"), col("same"))
      .orderBy(col("cos").desc, col("vec_id"))
    e.join(broadcast(q), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"), col("label"),
        cosine(col("qv"), col("v"), col("qnrm"), col("nrm")).as("cos"),
        when(col("label") === col("qlabel"), 1).otherwise(0).as("same"))
      .filter(col("cos").isNotNull)
      .withColumn("rk", row_number().over(w))
      .filter((col("same") === 1 && col("rk") === 1)
        || (col("same") === 0 && col("rk") <= 3))
      .select(col("qid"),
        when(col("same") === 1, "pos").otherwise("neg").as("role"),
        col("rk"), col("vec_id"), col("label"), col("cos"))
      .orderBy(col("qid"), col("role"), col("rk"))
  }

  /** RECIPROCAL NEAREST NEIGHBORS — the high-precision dedup/link signal:
    * a pair counts only when EACH vector ranks the other in its own top-3
    * (mutual kNN, the construct behind RNN clustering and the
    * re-ranking step of retrieval dedup). One-directional top-k is cheap
    * to satisfy near hubs — a hub appears in everyone's list; mutuality
    * kills the hub artifacts, which is why survivor pairs are
    * high-confidence. Computed within the label blocks (the q34 blocking;
    * at scale the same role is played by IVF cluster assignment), so the
    * only pair generator is a block-keyed equi self-join.
    *
    * Determinism: round-6 cosines with vec_id tiebreak (the q35 total
    * order); cosine is direction-symmetric bit-for-bit (the dot fold
    * multiplies the same components in the same index order), so the
    * mutual join cannot disagree with itself. NULL cosines (zero-norm)
    * drop before ranking.
    *
    * Plan: block self-join → per-vector rank window (block-keyed) → one
    * self-join of the ≤3-per-vector directed lists on the flipped key —
    * every stage is equi-keyed and top-k-bounded.
    */
  val q183ReciprocalNn = Q(
    "q183_reciprocal_nn",
    s"""WITH $duckE,
       |sc AS (
       |  SELECT a.vec_id AS src, b.vec_id AS nbr, a.label,
       |    ${duckCos("a.v", "b.v", "a.nrm", "b.nrm")} AS cos
       |  FROM e a JOIN e b ON a.label = b.label AND a.vec_id <> b.vec_id
       |  WHERE ${duckCos("a.v", "b.v", "a.nrm", "b.nrm")} IS NOT NULL
       |),
       |t AS (
       |  SELECT src, nbr, label, cos FROM (
       |    SELECT src, nbr, label, cos,
       |      row_number() OVER (PARTITION BY src
       |        ORDER BY cos DESC, nbr) AS rk
       |    FROM sc) x WHERE rk <= 3
       |)
       |SELECT x.src AS vec_a, x.nbr AS vec_b,
       |  CAST(x.label AS INTEGER) AS label, x.cos
       |FROM t x JOIN t y ON x.src = y.nbr AND x.nbr = y.src
       |WHERE x.src < x.nbr
       |ORDER BY vec_a NULLS FIRST, vec_b NULLS FIRST""".stripMargin,
  ) { (s, d) =>
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"), vec(col("embedding")).as("v"))
      .withColumn("nrm", norm(col("v")))
    // r20: triangle-blocked pair generator (see blockedSelfPairs); each
    // directed row computes its own cosine, so the src-side division
    // order matches the plain join's bit-for-bit
    val sc = blockedSelfPairs(e, directed = true)
      .select(col("a_vec_id").as("src"), col("b_vec_id").as("nbr"),
        col("a_label").as("label"),
        cosine(col("a_v"), col("b_v"), col("a_nrm"), col("b_nrm")).as("cos"))
      .filter(col("cos").isNotNull)
    val t = sc.withColumn("rk", row_number().over(
        Window.partitionBy(col("src")).orderBy(col("cos").desc, col("nbr"))))
      .filter(col("rk") <= 3)
      .select(col("src"), col("nbr"), col("label"), col("cos"))
    t.as("x").join(t.as("y"),
        col("x.src") === col("y.nbr") && col("x.nbr") === col("y.src"))
      .filter(col("x.src") < col("x.nbr"))
      .select(col("x.src").as("vec_a"), col("x.nbr").as("vec_b"),
        col("x.label").cast("int").as("label"), col("x.cos").as("cos"))
      .orderBy(col("vec_a"), col("vec_b"))
  }

  /** EMBEDDING OUTLIER DETECTION — the corpus-hygiene sweep that catches
    * mislabeled or corrupted vectors BEFORE they poison centroids, ANN
    * indexes, and contrastive pairs: per label, the 3 vectors farthest
    * (L2) from their own label centroid. The q93 fixed-point device makes
    * the RANKING exact — deviations are n·x − Σx in milli-scaled integers
    * (the mean never divides: scaling by n keeps everything int64, ≤
    * ~10¹² summed at sf0.1, ~10¹⁷ at ×100), so the argmax can't flap on
    * float noise; only the REPORTED distance converts to doubles, via one
    * fixed-order sqrt/divide chain (correctly-rounded IEEE, bit-identical
    * cross-engine).
    *
    * Plan: posexplode → per-(label, pos) centroid sums (grid-sized,
    * broadcast back) → per-vector deviation aggregate → one
    * label-partitioned top-3 window over vector-count rows. Nothing
    * pairwise anywhere — distance is to the CENTROID, so the operator is
    * linear in corpus size.
    */
  val q184EmbeddingOutliers = Q(
    "q184_embedding_outliers",
    """WITH x AS (
      |  SELECT vec_id, label,
      |    unnest(list_transform(embedding,
      |      v -> CAST(round(CAST(v AS DOUBLE) * 1000) AS BIGINT))) AS xq,
      |    unnest(range(1, len(embedding) + 1)) AS pos
      |  FROM embeddings
      |),
      |c AS (
      |  SELECT label, pos, CAST(sum(xq) AS BIGINT) AS sq, count(*) AS n
      |  FROM x GROUP BY label, pos
      |),
      |d AS (
      |  SELECT x.vec_id, x.label, max(c.n) AS n,
      |    CAST(sum((c.n * x.xq - c.sq) * (c.n * x.xq - c.sq)) AS BIGINT)
      |      AS d2n
      |  FROM x JOIN c ON x.label = c.label AND x.pos = c.pos
      |  GROUP BY x.vec_id, x.label
      |)
      |SELECT CAST(label AS INTEGER) AS label, CAST(rk AS INTEGER) AS rk,
      |  vec_id,
      |  round(sqrt(CAST(d2n AS DOUBLE)) / (CAST(n AS DOUBLE) * 1000.0), 6)
      |    AS dist
      |FROM (
      |  SELECT label, vec_id, n, d2n,
      |    row_number() OVER (PARTITION BY label
      |      ORDER BY d2n DESC, vec_id) AS rk
      |  FROM d) t
      |WHERE rk <= 3
      |ORDER BY label NULLS FIRST, rk NULLS FIRST""".stripMargin,
  ) { (s, d) =>
    val x = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"),
        posexplode(col("embedding")).as(Seq("pos0", "v")))
      .select(col("vec_id"), col("label"), (col("pos0") + 1).as("pos"),
        round(col("v").cast("double") * 1e3).cast("long").as("xq"))
    val c = x.groupBy(col("label"), col("pos"))
      .agg(sum(col("xq")).cast("long").as("sq"), count(lit(1)).as("n"))
    val dev = x.join(broadcast(c), Seq("label", "pos"))
      .groupBy(col("vec_id"), col("label"))
      .agg(max(col("n")).as("n"),
        sum((col("n") * col("xq") - col("sq"))
          * (col("n") * col("xq") - col("sq"))).cast("long").as("d2n"))
    dev
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("label"))
          .orderBy(col("d2n").desc, col("vec_id"))))
      .filter(col("rk") <= 3)
      .select(col("label").cast("int").as("label"), col("rk"),
        col("vec_id"),
        round(sqrt(col("d2n").cast("double"))
          / (col("n").cast("double") * lit(1000.0)), 6).as("dist"))
      .orderBy(col("label"), col("rk"))
  }

  /** SIMPLIFIED SILHOUETTE — the cluster-quality report over the label
    * partition: per vector, a = distance to its OWN label centroid,
    * b = distance to the NEAREST other centroid, s = (b − a)/max(a, b)
    * ∈ [−1, 1]; per label, the mean s and the share of NEGATIVE s
    * (vectors sitting closer to a foreign centroid — the misassignment
    * rate a label-quality gate reads). Centroid-based ("simplified")
    * on purpose: the classic all-pairs silhouette is O(n²) in corpus
    * size, this is O(n·k) with a K×D broadcast — the only silhouette
    * that exists at 100 TB. Complements q93 (dispersion around own
    * centroid — no cross-label information).
    *
    * Exactness: q93's fixed-point idiom extended to SQUARED distances:
    * coordinates micro-int xq, centroids the exact (Σxq, n) pair, and
    * each squared deviation enters as dq = xq·n − Σxq — EXACT int64
    * (|dq| ≤ 4e9 at unit-range embeddings, bound documented) — squared
    * and scale-cleared in ONE fixed-order double chain per (vec, pos,
    * label) term, cast DECIMAL(18,9) and summed ASSOCIATIVELY so pos
    * order cannot move bits. a/b select and compare on the DECIMAL
    * (exact); the s chain is IEEE sqrt + one divide, identical text
    * both engines. A single-label corpus has no b → NULL s via
    * explicit CASE; coincident centroids with a = b = 0 score s = 0
    * (stated); NULL labels excluded on both engines.
    *
    * Plan: posexplode → (label, pos) centroid aggregate (K×D rows,
    * broadcast) → pos-keyed join fans each vector coordinate across K
    * centroids (n·D·K rows, the operator's honest cost) → one
    * (vec, clabel) decimal aggregate → one K-row label rollup.
    */
  val q251Silhouette = Q(
    "q251_silhouette",
    """WITH x AS (
      |  SELECT vec_id, label,
      |    unnest(list_transform(embedding,
      |      v -> CAST(round(CAST(v AS DOUBLE) * 1000000) AS BIGINT))) AS xq,
      |    unnest(range(1, len(embedding) + 1)) AS pos
      |  FROM embeddings WHERE label IS NOT NULL
      |),
      |c AS (
      |  SELECT label AS clabel, pos, CAST(sum(xq) AS BIGINT) AS sq,
      |    CAST(count(*) AS BIGINT) AS n
      |  FROM x GROUP BY 1, 2
      |),
      |d2 AS (
      |  SELECT x.vec_id, x.label, c.clabel,
      |    sum(CAST(
      |      CAST(x.xq * c.n - c.sq AS DOUBLE)
      |        * CAST(x.xq * c.n - c.sq AS DOUBLE)
      |        / (CAST(c.n AS DOUBLE) * CAST(c.n AS DOUBLE)
      |          * 1000000000000.0)
      |      AS DECIMAL(18,9))) AS dd
      |  FROM x JOIN c ON c.pos = x.pos
      |  GROUP BY 1, 2, 3
      |),
      |ab AS (
      |  SELECT vec_id, label,
      |    max(CASE WHEN clabel = label THEN dd END) AS a,
      |    min(CASE WHEN clabel <> label THEN dd END) AS b
      |  FROM d2 GROUP BY 1, 2
      |),
      |sil AS (
      |  SELECT vec_id, label,
      |    CAST(CASE WHEN b IS NULL THEN NULL
      |      WHEN greatest(sqrt(CAST(a AS DOUBLE)), sqrt(CAST(b AS DOUBLE)))
      |        > 0 THEN
      |        (sqrt(CAST(b AS DOUBLE)) - sqrt(CAST(a AS DOUBLE)))
      |          / greatest(sqrt(CAST(a AS DOUBLE)), sqrt(CAST(b AS DOUBLE)))
      |      ELSE CAST(0 AS DOUBLE) END AS DECIMAL(18,9)) AS s
      |  FROM ab
      |)
      |SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
      |  round(CAST(sum(s) AS DOUBLE) / count(*), 6) AS mean_silhouette,
      |  CAST(((2 * CAST(sum(CASE WHEN s < 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    * 1000000 + CAST(count(*) AS BIGINT))
      |    // nullif(2 * CAST(count(*) AS BIGINT), 0)) AS DOUBLE) / 1000000.0
      |    AS negative_share
      |FROM sil
      |GROUP BY label
      |ORDER BY label""".stripMargin,
  ) { (s, d) =>
    // r21: fan before the explode+pin — the ×k distance fan downstream
    // otherwise inherits the single-split scan layout (Fan.scala)
    val x = Fan.fan(Tables.embeddings(s, d))
      .filter(col("label").isNotNull)
      .select(col("vec_id"), col("label"),
        posexplode(col("embedding")).as(Seq("pos0", "v")))
      .select(col("vec_id"), col("label"), (col("pos0") + 1).as("pos"),
        round(col("v").cast("double") * 1e6).cast("long").as("xq"))
      .transform(graft.operators.Iter.pin) // 2 consumers: centroids and the distance fan
    val c = x.groupBy(col("label").as("clabel"), col("pos"))
      .agg(sum(col("xq")).cast("long").as("sq"),
        count(lit(1)).cast("long").as("n"))
      .select(col("clabel"), col("pos").as("c_pos"), col("sq"), col("n"))
    val d2 = x.join(broadcast(c), col("c_pos") === col("pos"))
      .groupBy(col("vec_id"), col("label"), col("clabel"))
      .agg(sum(expr("""CAST(
        |  CAST(xq * n - sq AS DOUBLE)
        |    * CAST(xq * n - sq AS DOUBLE)
        |    / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
        |      * 1000000000000.0)
        |  AS DECIMAL(18,9))""".stripMargin)).as("dd"))
    val ab = d2.groupBy(col("vec_id"), col("label"))
      .agg(max(when(col("clabel") === col("label"), col("dd"))).as("a"),
        min(when(col("clabel") =!= col("label"), col("dd"))).as("b"))
    val sil = ab.select(col("vec_id"), col("label"),
      expr("""CAST(CASE WHEN b IS NULL THEN NULL
        |  WHEN greatest(sqrt(CAST(a AS DOUBLE)), sqrt(CAST(b AS DOUBLE)))
        |    > 0 THEN
        |    (sqrt(CAST(b AS DOUBLE)) - sqrt(CAST(a AS DOUBLE)))
        |      / greatest(sqrt(CAST(a AS DOUBLE)), sqrt(CAST(b AS DOUBLE)))
        |  ELSE CAST(0 AS DOUBLE) END AS DECIMAL(18,9))""".stripMargin)
        .as("s"))
    sil.groupBy(col("label"))
      .agg(count(lit(1)).cast("long").as("n_vecs"),
        round(sum(col("s")).cast("double") / count(lit(1)), 6)
          .as("mean_silhouette"),
        sum(when(col("s") < 0, 1L).otherwise(0L)).cast("long").as("neg"))
      .select(col("label"), col("n_vecs"),
        col("mean_silhouette"),
        graft.functions.Exact.ratio6("neg", "n_vecs")
          .as("negative_share"))
      .orderBy(col("label"))
  }

  /** EMBEDDING ANISOTROPY — the mean pairwise dot product WITHOUT pairs:
    * Σ_{i≠j} vᵢ·vⱼ = ‖Σv‖² − Σ‖v‖², so the O(n²) "how collapsed is this
    * embedding space" diagnostic (Ethayarajh's anisotropy: representations
    * that all point the same way are uninformative) costs ONE O(n·d)
    * scan. Reported per label: mean pairwise dot, mean squared norm, and
    * their ratio (1 ⇒ fully collapsed, 0 ⇒ isotropic around the origin).
    *
    * Exactness: coordinates quantize to xq = round(v·10⁶) exact int64
    * (the q126 device at micro scale — both engines round the identical
    * float-widened double); per-(label, pos) sums S_d are exact int64,
    * their squares go through DECIMAL(18,0)×DECIMAL(18,0) (exact to
    * 10³⁶ — S_d² clears int64 at ~3·10⁹ quantized mass, sf0.1 already
    * nears it); per-row Σxq² is exact int64 summed as DECIMAL(18,0).
    * The two finishes are single double divides of exact numerators
    * with nullif guards (n ≤ 1 → NULL pairwise; zero norms → NULL
    * ratio).
    *
    * Plan: one posexplode → (label, pos)-keyed aggregate (64·k rows),
    * one per-row array fold (no explode) → label aggregate, a k-row
    * join. Both map-side combined; nothing pairwise ever materializes.
    */
  val q268Anisotropy = Q(
    "q268_anisotropy",
    """WITH x AS (
      |  SELECT label, vec_id,
      |    list_transform(embedding,
      |      v -> CAST(round(CAST(v AS DOUBLE) * 1000000) AS BIGINT))
      |      AS xk
      |  FROM embeddings
      |),
      |sd AS (
      |  SELECT label, i.i, CAST(sum(xk[i.i]) AS BIGINT) AS s
      |  FROM x, (SELECT unnest(range(1, 256)) AS i) i
      |  WHERE i.i <= len(xk)
      |  GROUP BY 1, 2
      |),
      |ss AS (
      |  SELECT label,
      |    sum(CAST(s AS DECIMAL(18,0)) * CAST(s AS DECIMAL(18,0)))
      |      AS ssq
      |  FROM sd GROUP BY 1
      |),
      |qr AS (
      |  SELECT label, CAST(count(*) AS BIGINT) AS n,
      |    sum(CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
      |      list_transform(xk, v -> v * v)), (acc, v) -> acc + v)
      |      AS DECIMAL(18,0))) AS qq
      |  FROM x GROUP BY 1
      |)
      |SELECT CAST(qr.label AS INTEGER) AS label, qr.n AS n_vecs,
      |  round(CAST(ss.ssq - qr.qq AS DOUBLE)
      |    / nullif(CAST(qr.n AS DOUBLE) * CAST(qr.n - 1 AS DOUBLE),
      |      CAST(0 AS DOUBLE)) / 1000000000000.0, 6) AS mean_pair_dot,
      |  round(CAST(qr.qq AS DOUBLE) / CAST(qr.n AS DOUBLE)
      |    / 1000000000000.0, 6) AS mean_sq_norm,
      |  round(CAST(ss.ssq - qr.qq AS DOUBLE)
      |      / nullif(CAST(qr.n AS DOUBLE) * CAST(qr.n - 1 AS DOUBLE),
      |        CAST(0 AS DOUBLE))
      |    / nullif(CAST(qr.qq AS DOUBLE) / CAST(qr.n AS DOUBLE),
      |      CAST(0 AS DOUBLE)), 6) AS anisotropy
      |FROM qr JOIN ss ON ss.label = qr.label
      |ORDER BY label""".stripMargin,
  ) { (s, d) =>
    val emb = Tables.embeddings(s, d)
    val x = emb.select(col("label"), col("vec_id"),
      expr("""transform(embedding,
        |  v -> CAST(round(CAST(v AS DOUBLE) * 1000000) AS BIGINT))"""
        .stripMargin).as("xk"))
    val sd = x.select(col("label"), posexplode(col("xk")).as(Seq("i", "xq")))
      .groupBy(col("label"), col("i"))
      .agg(sum(col("xq")).cast("long").as("s"))
    val ss = sd.groupBy(col("label").as("s_label"))
      .agg(sum(expr("""CAST(s AS DECIMAL(18,0))
        |  * CAST(s AS DECIMAL(18,0))""".stripMargin)).as("ssq"))
    val qr = x.groupBy(col("label"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(expr("""CAST(aggregate(xk, CAST(0 AS BIGINT),
          |  (acc, v) -> acc + v * v) AS DECIMAL(18,0))""".stripMargin))
          .as("qq"))
    qr.join(ss, col("s_label") === col("label"))
      .select(col("label").cast("int").as("label"), col("n").as("n_vecs"),
        round(expr("""CAST(ssq - qq AS DOUBLE)
          |  / nullif(CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE),
          |    CAST(0 AS DOUBLE)) / 1000000000000.0""".stripMargin), 6)
          .as("mean_pair_dot"),
        round(expr("""CAST(qq AS DOUBLE) / CAST(n AS DOUBLE)
          |  / 1000000000000.0""".stripMargin), 6).as("mean_sq_norm"),
        round(expr("""CAST(ssq - qq AS DOUBLE)
          |    / nullif(CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE),
          |      CAST(0 AS DOUBLE))
          |  / nullif(CAST(qq AS DOUBLE) / CAST(n AS DOUBLE),
          |    CAST(0 AS DOUBLE))""".stripMargin), 6).as("anisotropy"))
      .orderBy(col("label"))
  }

  /** TwoNN INTRINSIC DIMENSION — how many dimensions does the data
    * ACTUALLY live in? Facco et al.'s estimator needs only each point's
    * two nearest neighbors: under a locally uniform density the ratio
    * μ = r₂/r₁ is Pareto(ID), so ID = n/Σ ln μᵢ — the number that says
    * whether a 64-d embedding is really a 10-d manifold (and therefore
    * how aggressively q103/q64's compressions can cut). Computed per
    * label (the q183 blocking — local ID per cluster; a global ID would
    * need the unblocked n² join, stated).
    *
    * Exactness: squared distances are exact int64 in quantized space
    * (Σ(xqa − xqb)² over 64 dims — the q126 device), nearest ranks
    * under the (d2, nbr) deterministic total order; ln μ = 0.5·ln of an
    * exact-int ratio through the house float-cast ln, each term cast
    * DECIMAL(18,9), associative sum. Coincident points (d2₁ = 0) are
    * EXCLUDED from the MLE (ln undefined — stated); labels with < 3
    * vectors or Σ = 0 → NULL.
    *
    * Plan: a label-blocked self-join (equi on label, the q183 shape —
    * never an unbounded cartesian), one rank window, a per-label
    * decimal aggregate. At 10⁹ vectors the blocked join is the q36 IVF
    * path's job; this is the exact small-block evaluator.
    */
  val q269TwoNn = Q(
    "q269_twonn",
    """WITH x AS (
      |  SELECT label, vec_id,
      |    list_transform(embedding,
      |      v -> CAST(round(CAST(v AS DOUBLE) * 1000000) AS BIGINT))
      |      AS xk
      |  FROM embeddings
      |),
      |pr AS (
      |  SELECT a.label, a.vec_id AS src, b.vec_id AS nbr,
      |    CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
      |      list_transform(range(1, len(a.xk) + 1),
      |        i -> (a.xk[i] - b.xk[i]) * (a.xk[i] - b.xk[i]))),
      |      (acc, v) -> acc + v) AS BIGINT) AS d2
      |  FROM x a JOIN x b ON a.label = b.label
      |    AND a.vec_id <> b.vec_id
      |),
      |rk AS (
      |  SELECT label, src, d2,
      |    row_number() OVER (PARTITION BY label, src
      |      ORDER BY d2, nbr) AS rnk
      |  FROM pr
      |),
      |two AS (
      |  SELECT label, src,
      |    max(CASE WHEN rnk = 1 THEN d2 END) AS d1,
      |    max(CASE WHEN rnk = 2 THEN d2 END) AS d2n
      |  FROM rk WHERE rnk <= 2 GROUP BY 1, 2
      |),
      |tm AS (
      |  SELECT label,
      |    CAST(count(*) AS BIGINT) AS n_used,
      |    sum(CAST(CAST(0.5 AS DOUBLE)
      |      * CAST(ln(CAST(d2n AS DOUBLE) / CAST(d1 AS DOUBLE))
      |        AS FLOAT) AS DECIMAL(18,9))) AS slog
      |  FROM two
      |  WHERE d1 > 0 AND d2n IS NOT NULL
      |  GROUP BY 1
      |)
      |SELECT CAST(label AS INTEGER) AS label, n_used,
      |  round(CAST(slog AS DOUBLE), 6) AS sum_log_ratio,
      |  CASE WHEN n_used >= 3 AND CAST(slog AS DOUBLE) > 0 THEN
      |    round(CAST(n_used AS DOUBLE) / CAST(slog AS DOUBLE), 6)
      |  ELSE NULL END AS intrinsic_dim
      |FROM tm
      |ORDER BY label""".stripMargin,
  ) { (s, d) =>
    val emb = Tables.embeddings(s, d)
    val x = emb.select(col("label"), col("vec_id"),
      expr("""transform(embedding,
        |  v -> CAST(round(CAST(v AS DOUBLE) * 1000000) AS BIGINT))"""
        .stripMargin).as("xk"))
    // r20: triangle-blocked pair generator (see blockedSelfPairs); the
    // integer d2 is direction-symmetric, both orientations emitted
    val pr = blockedSelfPairs(x, directed = true)
      .select(col("a_label").as("label"), col("a_vec_id").as("src"),
        col("b_vec_id").as("nbr"),
        dist2(col("a_xk"), col("b_xk")).as("d2"))
    val rk = pr.select(col("label"), col("src"), col("d2"),
      row_number().over(Window.partitionBy(col("label"), col("src"))
        .orderBy(col("d2"), col("nbr"))).as("rnk"))
      .filter(col("rnk") <= 2)
    val two = rk.groupBy(col("label"), col("src"))
      .agg(max(when(col("rnk") === 1, col("d2"))).as("d1"),
        max(when(col("rnk") === 2, col("d2"))).as("d2n"))
    val tm = two.filter(col("d1") > 0 && col("d2n").isNotNull)
      .groupBy(col("label"))
      .agg(count(lit(1)).cast("long").as("n_used"),
        sum(expr("""CAST(CAST(0.5 AS DOUBLE)
          |  * CAST(ln(CAST(d2n AS DOUBLE) / CAST(d1 AS DOUBLE))
          |    AS FLOAT) AS DECIMAL(18,9))""".stripMargin)).as("slog"))
    tm.select(col("label").cast("int").as("label"), col("n_used"),
        round(col("slog").cast("double"), 6).as("sum_log_ratio"),
        when(col("n_used") >= 3 && col("slog").cast("double") > 0,
          round(expr("CAST(n_used AS DOUBLE) / CAST(slog AS DOUBLE)"), 6))
          .otherwise(lit(null)).as("intrinsic_dim"))
      .orderBy(col("label"))
  }

  /** 1-NN LABEL-NOISE RATE — confident-learning-lite: the share of each
    * label's vectors whose NEAREST neighbor (over the whole corpus, any
    * label) carries a DIFFERENT label. Clean clusterable labels read
    * near 0; a label whose members' nearest neighbors mostly disagree
    * is mislabeled or unclusterable — the triage number in front of
    * q188's classifier and q251's silhouette (which both ASSUME labels
    * mean something).
    *
    * Exactness: squared distances exact int64 in the q126 quantized
    * space; the nearest neighbor under the (d2, nbr) deterministic
    * total order; the rate through ratio6. Coincident points keep their
    * d2 = 0 neighbor (nearest is nearest — no exclusion here, unlike
    * q269's ln). Singleton-corpus vectors have no neighbor and are
    * excluded (stated).
    *
    * Plan: ONE unblocked n² self-join — DELIBERATELY, because noise
    * detection needs cross-label neighbors (the q183/q269 label
    * blocking would hide exactly the disagreements being measured), so
    * the plan is a nested-loop by design and sits in ScaleSpec's
    * documented waiver group: this operator is the exact audit-scale
    * evaluator, the same stance q269 takes for blocked ID estimation.
    */
  val q270LabelNoise = Q(
    "q270_label_noise",
    """WITH x AS (
      |  SELECT label, vec_id,
      |    list_transform(embedding,
      |      v -> CAST(round(CAST(v AS DOUBLE) * 1000000) AS BIGINT))
      |      AS xk
      |  FROM embeddings
      |),
      |pr AS (
      |  SELECT a.label AS la, a.vec_id AS src, b.label AS lb,
      |    b.vec_id AS nbr,
      |    CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
      |      list_transform(range(1, len(a.xk) + 1),
      |        i -> (a.xk[i] - b.xk[i]) * (a.xk[i] - b.xk[i]))),
      |      (acc, v) -> acc + v) AS BIGINT) AS d2
      |  FROM x a JOIN x b ON a.vec_id <> b.vec_id
      |),
      |nn AS (
      |  SELECT la, src, lb FROM (
      |    SELECT la, src, lb,
      |      row_number() OVER (PARTITION BY src ORDER BY d2, nbr) AS rnk
      |    FROM pr) z
      |  WHERE rnk = 1
      |)
      |SELECT CAST(la AS INTEGER) AS label,
      |  CAST(count(*) AS BIGINT) AS n_vecs,
      |  CAST(sum(CASE WHEN lb <> la THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_disagree,
      |  round(CAST((2 * sum(CASE WHEN lb <> la THEN 1 ELSE 0 END)
      |      * 1000000 + count(*)) // (2 * count(*)) AS DOUBLE)
      |    / 1000000.0, 6) AS noise_rate
      |FROM nn GROUP BY la
      |ORDER BY label""".stripMargin,
  ) { (s, d) =>
    val x = Tables.embeddings(s, d)
      .select(col("label"), col("vec_id"),
        expr("""transform(embedding,
          |  v -> CAST(round(CAST(v AS DOUBLE) * 1000000) AS BIGINT))"""
          .stripMargin).as("xk"))
    val a = x.select(col("label").as("la"), col("vec_id").as("src"),
      col("xk").as("xa"))
    val bdf = x.select(col("label").as("lb"), col("vec_id").as("nbr"),
      col("xk").as("xb"))
    val pr = a.join(bdf, col("nbr") =!= col("src"))
      .select(col("la"), col("src"), col("lb"), col("nbr"),
        dist2(col("xa"), col("xb")).as("d2"))
    val nn = pr.select(col("la"), col("src"), col("lb"),
        row_number().over(Window.partitionBy(col("src"))
          .orderBy(col("d2"), col("nbr"))).as("rnk"))
      .filter(col("rnk") === 1)
    nn.groupBy(col("la"))
      .agg(count(lit(1)).cast("long").as("n_vecs"),
        sum(when(col("lb") =!= col("la"), 1).otherwise(0)).cast("long")
          .as("n_disagree"))
      .select(col("la").cast("int").as("label"), col("n_vecs"),
        col("n_disagree"),
        graft.functions.Exact.ratio6("n_disagree", "n_vecs")
          .as("noise_rate"))
      .orderBy(col("label"))
  }

  /** CLASS-BALANCED WEIGHTS — Cui et al.'s "effective number of
    * samples": re-weighting by 1/n explodes on tiny classes and 1/1
    * ignores imbalance; the effective count Eₙ = (1 − βⁿ)/(1 − β)
    * (β = 0.999) interpolates — near n for small classes, saturating
    * at 1/(1−β) = 1000 for large ones — and w ∝ 1/Eₙ normalized to
    * mean 1 over classes is the standard long-tail training weight.
    *
    * Exactness: n per label is an exact count; βⁿ rides the house
    * float-cast pow (identical both engines); Eₙ and the raw weight
    * are fixed-order chains; the k-class normalizer quantizes each raw
    * weight to DECIMAL(18,9) for the associative window total (the
    * q197 idiom). Empty corpus → empty output; a zero Eₙ cannot occur
    * (n ≥ 1 ⇒ Eₙ ≥ 1).
    *
    * Plan: one label count, a k-row window finish. Trivially
    * scan-dominated — listed because every training pipeline needs it
    * next to q69's mixture and q77's resampler.
    */
  val q272ClassBalanced = Q(
    "q272_class_balanced",
    """WITH c AS (
      |  SELECT label, CAST(count(*) AS BIGINT) AS n
      |  FROM embeddings GROUP BY 1
      |),
      |w AS (
      |  SELECT label, n,
      |    (CAST(1 AS DOUBLE)
      |      - CAST(pow(0.999, CAST(n AS DOUBLE)) AS FLOAT))
      |      / CAST(0.001 AS DOUBLE) AS eff,
      |    CAST(1 AS DOUBLE)
      |      / ((CAST(1 AS DOUBLE)
      |        - CAST(pow(0.999, CAST(n AS DOUBLE)) AS FLOAT))
      |        / CAST(0.001 AS DOUBLE)) AS raw
      |  FROM c
      |),
      |t AS (
      |  SELECT label, n, eff, raw,
      |    CAST(count(*) OVER () AS BIGINT) AS k,
      |    CAST(sum(CAST(raw AS DECIMAL(18,9))) OVER () AS DOUBLE)
      |      AS sraw
      |  FROM w
      |)
      |SELECT CAST(label AS INTEGER) AS label, n AS n_samples,
      |  round(eff, 6) AS effective_n,
      |  round(raw * CAST(k AS DOUBLE) / sraw, 6) AS weight
      |FROM t
      |ORDER BY label""".stripMargin,
  ) { (s, d) =>
    val c = Tables.embeddings(s, d)
      .groupBy(col("label"))
      .agg(count(lit(1)).cast("long").as("n"))
    val eff = expr("""(CAST(1 AS DOUBLE)
      |  - CAST(pow(0.999, CAST(n AS DOUBLE)) AS FLOAT))
      |  / CAST(0.001 AS DOUBLE)""".stripMargin)
    val w = c.select(col("label"), col("n"), eff.as("eff"),
      (lit(1.0) / eff).as("raw"))
    val wAll = Window.partitionBy()
    val t = w.select(col("label"), col("n"), col("eff"), col("raw"),
      count(lit(1)).over(wAll).cast("long").as("k"),
      sum(expr("CAST(raw AS DECIMAL(18,9))")).over(wAll).cast("double")
        .as("sraw"))
    t.select(col("label").cast("int").as("label"),
        col("n").as("n_samples"),
        round(col("eff"), 6).as("effective_n"),
        round(expr("raw * CAST(k AS DOUBLE) / sraw"), 6).as("weight"))
      .orderBy(col("label"))
  }

  /** PARTICIPATION RATIO — the embedding space's EFFECTIVE
    * dimensionality without an eigensolver: PR = tr(C)²/tr(C²) =
    * (Σλ)²/Σλ² over the covariance spectrum, and BOTH traces are
    * available directly from the q126 covariance rows — tr(C) is the
    * diagonal sum and tr(C²) = ‖C‖²_F is the sum of squared entries
    * (off-diagonals twice, C symmetric). PR = D for isotropic spread,
    * → 1 for a one-direction collapse; the global companion to q268's
    * anisotropy (first-moment concentration) and q269's TwoNN (local
    * manifold dim), and the number embedding-drift dashboards track
    * BECAUSE it needs no iteration, unlike a power-iteration PCA.
    *
    * Exactness: covariance numerators are q126's exact int64 (n²·cov
    * in kilo²-units). The scale factor n²·10⁶ cancels in the ratio
    * ONLY under uniform per-pair n — PRECONDITION fixed-length
    * embeddings (the fixture's case; ragged corpora would need
    * per-pair de-scaling, stated). Each entry de-scales by ONE fixed
    * chain cov/n/n/10⁶ (exact doubles), the diagonal sum and Frobenius
    * sum quantize each term to DECIMAL(18,9) (associative totals, the
    * q197 idiom — the quantization IS the spec, both engines quantize
    * identical doubles). The three output roundings go ENTIRELY
    * through integer arithmetic on the ×10⁹-scaled exact sums (tr9,
    * fro9): PR = tr9²/(fro9·10⁹) splits ratio6Big-style — integer
    * quotient + half-up of the remainder's 10⁹-truncation (the
    * truncation shifts the value < 10⁻⁷; the FORMULATION is the spec)
    * — because the naive round(double, 6) diverged cross-engine on a
    * live half-1e-6 boundary at sf0.1 (62.158958 vs 62.158959, the
    * §5.7 round-semantics class); pr_share then rounds the SMALL
    * rational pr_units/(D·10⁶), never touching tr9² again.
    * PRECONDITION unit-normalized-ish embeddings: trace ≤ 2 keeps
    * tr9² ≤ 4·10¹⁸ and fro9·10⁹ ≤ 4·10¹⁸ inside int64 (unit vectors
    * have trace ≤ E‖x‖² = 1; re-scale raw feature matrices before
    * this operator — stated, and the EdgeVectorsSpec fixtures stay in
    * the envelope). fro9 = 0 → NULL via nullif; D = 0 → empty.
    *
    * Plan: the q126 single-scan fused upper-triangle explode into a
    * D(D+1)/2-row aggregate, then a 1-row collapse. No joins at all.
    */
  val q300ParticipationRatio = Q(
    "q300_participation_ratio",
    """WITH x AS (
      |  SELECT vec_id,
      |    list_transform(embedding,
      |      v -> CAST(round(CAST(v AS DOUBLE) * 1000) AS BIGINT)) AS xk
      |  FROM embeddings
      |),
      |p AS (
      |  SELECT i.i, j.j, xk[i.i] AS xi, xk[j.j] AS xj
      |  FROM x,
      |    (SELECT unnest(range(1, 256)) AS i) i,
      |    (SELECT unnest(range(1, 256)) AS j) j
      |  WHERE i.i <= len(xk) AND j.j <= len(xk) AND i.i <= j.j
      |),
      |cv AS (
      |  SELECT i, j, CAST(count(*) AS BIGINT) AS n,
      |    CAST(count(*) * sum(xi * xj) - sum(xi) * sum(xj) AS BIGINT)
      |      AS cov_num
      |  FROM p GROUP BY i, j
      |),
      |e AS (
      |  SELECT i, j, n,
      |    CAST(cov_num AS DOUBLE) / CAST(n AS DOUBLE)
      |      / CAST(n AS DOUBLE) / CAST(1000000 AS DOUBLE) AS c
      |  FROM cv
      |),
      |t AS (
      |  SELECT CAST(max(CAST(j AS BIGINT)) AS BIGINT) AS dim,
      |    max(n) AS n_vecs,
      |    CAST(sum(CASE WHEN i = j THEN CAST(c AS DECIMAL(18,9)) END)
      |      * 1000000000 AS BIGINT) AS tr9,
      |    CAST(sum(CAST((CASE WHEN i = j THEN 1 ELSE 2 END) * c * c
      |      AS DECIMAL(18,9))) * 1000000000 AS BIGINT) AS fro9
      |  FROM e
      |),
      |t2 AS (
      |  SELECT dim, n_vecs, tr9, fro9,
      |    tr9 * tr9 // nullif(fro9 * 1000000000, 0) AS prq,
      |    (2 * ((tr9 * tr9 % nullif(fro9 * 1000000000, 0))
      |        // 1000000000) * 1000000 + fro9)
      |      // nullif(2 * fro9, 0) AS prf
      |  FROM t WHERE dim IS NOT NULL
      |)
      |SELECT dim, n_vecs,
      |  CAST(((2 * tr9 * 1000000 + 1000000000)
      |    // 2000000000) AS DOUBLE) / 1000000.0 AS trace,
      |  CAST(prq AS DOUBLE) + CAST(prf AS DOUBLE) / 1000000.0
      |    AS participation_ratio,
      |  CAST(((2 * (prq * 1000000 + prf) * 1000000 + dim * 1000000)
      |    // (2 * dim * 1000000)) AS DOUBLE) / 1000000.0 AS pr_share
      |FROM t2""".stripMargin,
  ) { (s, d) =>
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"),
        transform(col("embedding"),
          v => round(v.cast("double") * 1000).cast("long")).as("xk"))
      .filter(size(col("xk")) > 0)
    val cv = e.select(col("xk"),
        explode(sequence(lit(1), size(col("xk")))).as("i"))
      .select(col("xk"), col("i"),
        explode(sequence(col("i"), size(col("xk")))).as("j"))
      .select(col("i"), col("j"),
        element_at(col("xk"), col("i")).as("xi"),
        element_at(col("xk"), col("j")).as("xj"))
      .groupBy(col("i"), col("j"))
      .agg(count(lit(1)).cast("long").as("n"),
        (count(lit(1)) * sum(col("xi") * col("xj")) -
          sum(col("xi")) * sum(col("xj"))).cast("long").as("cov_num"))
    val ee = cv.select(col("i"), col("j"), col("n"),
      expr("""CAST(cov_num AS DOUBLE) / CAST(n AS DOUBLE)
        |  / CAST(n AS DOUBLE) / CAST(1000000 AS DOUBLE)"""
        .stripMargin).as("c"))
    ee.agg(max(col("j").cast("long")).as("dim"),
        max(col("n")).as("n_vecs"),
        (sum(when(col("i") === col("j"),
          expr("CAST(c AS DECIMAL(18,9))"))) * 1000000000L)
          .cast("long").as("tr9"),
        (sum(expr("""CAST((CASE WHEN i = j THEN 1 ELSE 2 END) * c * c
          |  AS DECIMAL(18,9))""".stripMargin)) * 1000000000L)
          .cast("long").as("fro9"))
      .filter(col("dim").isNotNull)
      .select(col("dim"), col("n_vecs"), col("tr9"), col("fro9"),
        expr("tr9 * tr9 div nullif(fro9 * 1000000000, 0)").as("prq"),
        expr("""(2 * ((tr9 * tr9 % nullif(fro9 * 1000000000, 0))
          |    div 1000000000) * 1000000 + fro9)
          |  div nullif(2 * fro9, 0)""".stripMargin).as("prf"))
      .select(col("dim"), col("n_vecs"),
        expr("""CAST(((2 * tr9 * 1000000 + 1000000000)
          |  div 2000000000) AS DOUBLE) / 1000000.0""".stripMargin)
          .as("trace"),
        expr("CAST(prq AS DOUBLE) + CAST(prf AS DOUBLE) / 1000000.0")
          .as("participation_ratio"),
        expr("""CAST(((2 * (prq * 1000000 + prf) * 1000000
          |    + dim * 1000000)
          |  div (2 * dim * 1000000)) AS DOUBLE) / 1000000.0"""
          .stripMargin).as("pr_share"))
  }

  /** EMBEDDING NORM DRIFT — the per-label norm panel every serving
    * pipeline monitors: a model update that rescales norms silently
    * re-ranks every dot-product retrieval even when directions are
    * unchanged (why q35 normalizes), and zero-norm rows are degenerate
    * inputs to EVERY cosine operator here (q35/q251 filter or carry
    * them explicitly — this is the op that counts them per label).
    *
    * Exactness: squared norms are exact int64 in the q270 micro-unit
    * space (Σxᵢ², xᵢ ≤ ~10⁶ micro-units, 64 dims → ≤ 6.4·10¹³); the
    * mean SQUARED norm is one divide of exact ints (de-scaled by the
    * exact 10¹² micro² factor); the mean NORM takes one IEEE sqrt per
    * row quantized to DECIMAL(18,9) in unit space (the quantization is
    * the spec) into an associative mean. min/max ride the exact int64
    * order. Zero-norm rows are INCLUDED in every moment (they are
    * real rows — the count is the alarm, stated).
    *
    * Plan: one scan, one per-label hash aggregate. The squared norm
    * deliberately reuses the codegen'd `graft_l2sq_i64` kernel against
    * a zero array (‖x − 0‖² = Σx²) rather than an interpreted
    * aggregate(transform(...)) HOF — the §2.10 lesson q270 paid 14×
    * to learn; the oracle twin spells the same sum via list_reduce,
    * exact int64 either way. k rows out.
    */
  val q308NormDrift = Q(
    "q308_norm_drift",
    """WITH x AS (
      |  SELECT label,
      |    CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
      |      list_transform(embedding,
      |        v -> CAST(round(CAST(v AS DOUBLE) * 1000000) AS BIGINT)
      |          * CAST(round(CAST(v AS DOUBLE) * 1000000) AS BIGINT))),
      |      (acc, v) -> acc + v) AS BIGINT) AS n2
      |  FROM embeddings
      |)
      |SELECT CAST(label AS INTEGER) AS label,
      |  CAST(count(*) AS BIGINT) AS n_vecs,
      |  CAST(sum(CASE WHEN n2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS zero_norms,
      |  round(CAST(sum(n2) AS DOUBLE) / CAST(count(*) AS DOUBLE)
      |    / CAST(1000000000000 AS DOUBLE), 6) AS mean_sq_norm,
      |  round(CAST(sum(CAST(sqrt(CAST(n2 AS DOUBLE))
      |      / CAST(1000000 AS DOUBLE) AS DECIMAL(18,9))) AS DOUBLE)
      |    / CAST(count(*) AS DOUBLE), 6) AS mean_norm,
      |  round(sqrt(CAST(min(n2) AS DOUBLE))
      |    / CAST(1000000 AS DOUBLE), 6) AS min_norm,
      |  round(sqrt(CAST(max(n2) AS DOUBLE))
      |    / CAST(1000000 AS DOUBLE), 6) AS max_norm
      |FROM x GROUP BY label
      |ORDER BY label""".stripMargin,
  ) { (s, d) =>
    val zeroLit = "array_repeat(CAST(0 AS BIGINT), size(xk))"
    val x = Tables.embeddings(s, d)
      .select(col("label"),
        expr("""transform(embedding,
          |  v -> CAST(round(CAST(v AS DOUBLE) * 1000000) AS BIGINT))"""
          .stripMargin).as("xk"))
      // the codegen'd exact kernel: ||x - 0||^2 = sum of squares
      .select(col("label"),
        expr(s"graft_l2sq_i64(xk, $zeroLit)").as("n2"))
    x.groupBy(col("label"))
      .agg(count(lit(1)).cast("long").as("n_vecs"),
        sum(when(col("n2") === 0, 1).otherwise(0)).cast("long")
          .as("zero_norms"),
        round(sum(col("n2")).cast("double") / count(lit(1)).cast("double")
          / lit(1e12), 6).as("mean_sq_norm"),
        round(sum(expr("""CAST(sqrt(CAST(n2 AS DOUBLE))
          |  / CAST(1000000 AS DOUBLE) AS DECIMAL(18,9))"""
          .stripMargin)).cast("double") /
          count(lit(1)).cast("double"), 6).as("mean_norm"),
        round(sqrt(min(col("n2")).cast("double")) / lit(1e6), 6)
          .as("min_norm"),
        round(sqrt(max(col("n2")).cast("double")) / lit(1e6), 6)
          .as("max_norm"))
      .select(col("label").cast("int").as("label"), col("n_vecs"),
        col("zero_norms"), col("mean_sq_norm"), col("mean_norm"),
        col("min_norm"), col("max_norm"))
      .orderBy(col("label"))
  }

  /** LABEL-CENTROID DISTANCE MATRIX — which classes sit close in
    * embedding space? The k×k inter-centroid Euclidean matrix: pairs
    * near 0 are the confusable classes (where q270's noise and q188's
    * classifier errors will concentrate — this PREDICTS them from
    * geometry alone), far pairs are safely separable. The bounded
    * companion to q93's within-label centroids.
    *
    * Exactness: per-(label, pos) coordinate sums exact int64 in the
    * q126 kilo-unit space; each pair's per-position term
    * (Sa/na − Sb/nb)² is a fixed-order double chain quantized to
    * DECIMAL(18,9) so the D-term sum is associative; ONE sqrt, one
    * de-scale by the exact 10³ kilo factor. Pairs a < b (stated);
    * k = 1 → empty output.
    *
    * Plan: one posexplode → (label, pos) aggregate (k·D rows), one
    * pos-keyed equi pair join (k²·D-bounded fan — label cardinality is
    * data, not rows), a pair rollup. No cartesian, nothing
    * row-proportional after the coordinate collapse.
    */
  val q311CentroidDistances = Q(
    "q311_centroid_distances",
    """WITH x AS (
      |  SELECT label, vec_id,
      |    list_transform(embedding,
      |      v -> CAST(round(CAST(v AS DOUBLE) * 1000) AS BIGINT)) AS xk
      |  FROM embeddings
      |),
      |p AS (
      |  SELECT label, i.i AS pos, xk[i.i] AS xi
      |  FROM x, (SELECT unnest(range(1, 256)) AS i) i
      |  WHERE i.i <= len(xk)
      |),
      |c AS (
      |  SELECT label, pos, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(xi) AS BIGINT) AS s
      |  FROM p GROUP BY 1, 2
      |),
      |pr AS (
      |  SELECT a.label AS label_a, b.label AS label_b,
      |    max(a.n) AS na, max(b.n) AS nb,
      |    CAST(sum(CAST(
      |      (CAST(a.s AS DOUBLE) / CAST(a.n AS DOUBLE)
      |        - CAST(b.s AS DOUBLE) / CAST(b.n AS DOUBLE))
      |      * (CAST(a.s AS DOUBLE) / CAST(a.n AS DOUBLE)
      |        - CAST(b.s AS DOUBLE) / CAST(b.n AS DOUBLE))
      |      AS DECIMAL(18,9))) AS DOUBLE) AS d2
      |  FROM c a JOIN c b ON a.pos = b.pos AND a.label < b.label
      |  GROUP BY 1, 2
      |)
      |SELECT CAST(label_a AS INTEGER) AS label_a,
      |  CAST(label_b AS INTEGER) AS label_b,
      |  na AS n_a, nb AS n_b,
      |  round(sqrt(d2) / CAST(1000 AS DOUBLE), 6) AS centroid_dist
      |FROM pr
      |ORDER BY label_a, label_b""".stripMargin,
  ) { (s, d) =>
    val c = Tables.embeddings(s, d)
      .select(col("label"),
        transform(col("embedding"),
          v => round(v.cast("double") * 1000).cast("long")).as("xk"))
      .filter(size(col("xk")) > 0)
      .select(col("label"), posexplode(col("xk")).as(Seq("pos0", "xi")))
      .groupBy(col("label"), (col("pos0") + 1).as("pos"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("xi")).cast("long").as("s"))
      .transform(graft.operators.Iter.pin) // 2 consumers: both sides of the pair join
    val cb = c.select(col("label").as("label_b"), col("pos").as("pos_b"),
      col("n").as("nb"), col("s").as("sb"))
    c.join(cb, col("pos") === col("pos_b")
        && col("label") < col("label_b"))
      .groupBy(col("label").as("label_a"), col("label_b"))
      .agg(max(col("n")).as("na"), max(col("nb")).as("nb"),
        sum(expr("""CAST(
          |  (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
          |    - CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE))
          |  * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
          |    - CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE))
          |  AS DECIMAL(18,9))""".stripMargin)).cast("double").as("d2"))
      .select(col("label_a").cast("int").as("label_a"),
        col("label_b").cast("int").as("label_b"),
        col("na").as("n_a"), col("nb").as("n_b"),
        round(sqrt(col("d2")) / lit(1000.0), 6).as("centroid_dist"))
      .orderBy(col("label_a"), col("label_b"))
  }

  /** LABEL SEPARATION (Fisher-style) — is each class a CLUSTER or a
    * cloud? Per label: the mean intra-label squared distance (computed
    * WITHOUT pairs via the identity E‖x−y‖² = 2(n·m₂ − Σ_pos S_pos²)/
    * (n(n−1)) — one scan of second moments, the q268 pair-free stance),
    * the nearest OTHER label's squared centroid distance (q311's
    * pos-keyed machinery), and their ratio. Separation ≫ intra spread
    * means q270's noise and q188's confusions will concentrate
    * elsewhere; a label whose nearest centroid sits INSIDE its own
    * spread (ratio < 1) is where every classifier bleeds. The
    * embedding-quality panel read before any label-conditional model
    * is trained.
    *
    * Exactness: kilo-unit int64 coordinates (q311's device); m₂ and
    * Σ_pos S² exact int64 (bounds: n·m₂ ≈ n²·10⁶ and S² ≈ n²·10⁶ per
    * pos — inside int64 to n ≈ 2·10⁶ vectors per label, stated); the
    * intra mean is ONE fixed-order double chain; centroid d² rides
    * q311's DECIMAL(18,9)-quantized per-pos terms; the nearest-label
    * pick is deterministic under (d2, label); the ratio is one divide
    * of kilo²-unit doubles (units cancel), nullif-guarded for a
    * zero-spread label (identical vectors) and NULL for n ≤ 1.
    *
    * Plan: one (label, pos) moment aggregate, one label-bounded k²·D
    * pair join (q311's), a k-row finish. Nothing vector-pair-shaped.
    */
  val q328LabelSeparation = Q(
    "q328_label_separation",
    """WITH x AS (
      |  SELECT label, vec_id,
      |    list_transform(embedding,
      |      v -> CAST(round(CAST(v AS DOUBLE) * 1000) AS BIGINT)) AS xk
      |  FROM embeddings
      |),
      |p AS (
      |  SELECT label, vec_id, i.i AS pos, xk[i.i] AS xi
      |  FROM x, (SELECT unnest(range(1, 256)) AS i) i
      |  WHERE i.i <= len(xk)
      |),
      |c AS (
      |  SELECT label, pos, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(xi) AS BIGINT) AS s,
      |    CAST(sum(xi * xi) AS BIGINT) AS q
      |  FROM p GROUP BY 1, 2
      |),
      |intra AS (
      |  SELECT label, max(n) AS n,
      |    CAST(sum(q) AS BIGINT) AS m2,
      |    CAST(sum(s * s) AS BIGINT) AS ss
      |  FROM c GROUP BY 1
      |),
      |pr AS (
      |  SELECT a.label AS la, b.label AS lb,
      |    CAST(sum(CAST(
      |      (CAST(a.s AS DOUBLE) / CAST(a.n AS DOUBLE)
      |        - CAST(b.s AS DOUBLE) / CAST(b.n AS DOUBLE))
      |      * (CAST(a.s AS DOUBLE) / CAST(a.n AS DOUBLE)
      |        - CAST(b.s AS DOUBLE) / CAST(b.n AS DOUBLE))
      |      AS DECIMAL(18,9))) AS DOUBLE) AS d2
      |  FROM c a JOIN c b ON a.pos = b.pos AND a.label <> b.label
      |  GROUP BY 1, 2
      |),
      |near AS (
      |  SELECT la, lb, d2 FROM (
      |    SELECT la, lb, d2,
      |      row_number() OVER (PARTITION BY la ORDER BY d2, lb) AS rnk
      |    FROM pr) z
      |  WHERE rnk = 1
      |)
      |SELECT CAST(i.label AS INTEGER) AS label, i.n AS n_vecs,
      |  round(CASE WHEN i.n > 1 THEN
      |    CAST(2 AS DOUBLE) * CAST(i.n * i.m2 - i.ss AS DOUBLE)
      |      / CAST(i.n * (i.n - 1) AS DOUBLE) / 1000000.0
      |    ELSE NULL END, 6) AS intra_msd,
      |  CAST(near.lb AS INTEGER) AS nearest_label,
      |  round(near.d2 / 1000000.0, 6) AS nearest_centroid_d2,
      |  round(CASE WHEN i.n > 1 THEN
      |    near.d2 / nullif(
      |      CAST(2 AS DOUBLE) * CAST(i.n * i.m2 - i.ss AS DOUBLE)
      |        / CAST(i.n * (i.n - 1) AS DOUBLE),
      |      CAST(0 AS DOUBLE))
      |    ELSE NULL END, 6) AS separation
      |FROM intra i JOIN near ON i.label = near.la
      |ORDER BY label""".stripMargin,
  ) { (s, d) =>
    val c = Tables.embeddings(s, d)
      .select(col("label"),
        transform(col("embedding"),
          v => round(v.cast("double") * 1000).cast("long")).as("xk"))
      .filter(size(col("xk")) > 0)
      .select(col("label"), posexplode(col("xk")).as(Seq("pos0", "xi")))
      .groupBy(col("label"), (col("pos0") + 1).as("pos"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("xi")).cast("long").as("s"),
        sum(col("xi") * col("xi")).cast("long").as("q"))
      .transform(graft.operators.Iter.pin) // 3 consumers: intra and both pair-join sides
    val intra = c.groupBy(col("label"))
      .agg(max(col("n")).as("n"),
        sum(col("q")).cast("long").as("m2"),
        sum(col("s") * col("s")).cast("long").as("ss"))
    val cb = c.select(col("label").as("lb"), col("pos").as("pos_b"),
      col("n").as("nb"), col("s").as("sb"))
    val pr = c.join(cb, col("pos") === col("pos_b")
        && col("label") =!= col("lb"))
      .groupBy(col("label").as("la"), col("lb"))
      .agg(sum(expr("""CAST(
        |  (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
        |    - CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE))
        |  * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
        |    - CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE))
        |  AS DECIMAL(18,9))""".stripMargin)).cast("double").as("d2"))
    val near = pr.select(col("la"), col("lb"), col("d2"),
        row_number().over(Window.partitionBy(col("la"))
          .orderBy(col("d2"), col("lb"))).as("rnk"))
      .filter(col("rnk") === 1)
    val imsd = expr("""CAST(2 AS DOUBLE) * CAST(n * m2 - ss AS DOUBLE)
      |  / CAST(n * (n - 1) AS DOUBLE)""".stripMargin)
    intra.join(near, col("label") === col("la"))
      .select(col("label").cast("int").as("label"),
        col("n").as("n_vecs"),
        round(when(col("n") > 1, imsd / 1000000.0)
          .otherwise(lit(null)), 6).as("intra_msd"),
        col("lb").cast("int").as("nearest_label"),
        round(col("d2") / 1000000.0, 6).as("nearest_centroid_d2"),
        round(when(col("n") > 1,
          col("d2") / nullif(imsd, lit(0.0)))
          .otherwise(lit(null)), 6).as("separation"))
      .orderBy(col("label"))
  }
}
