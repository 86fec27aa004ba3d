package graft.queries

import graft.{Q, Tables}
import graft.operators.Fan
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Iterative link analysis — an iterative operator beside q74's
  * connected components: PageRank over a behavior graph, the canonical
  * "importance from structure" signal a web-scale curation pipeline uses
  * to weight crawl sources.
  *
  * The reference (a single-pass exporter) has no iterative operator at all;
  * this is [EXT] per SURVEY §2. Design follows the house iterative idiom:
  * per-round state lives in executors (ranks DataFrame, localCheckpoint to
  * cut lineage), rounds are FIXED (power iteration, not fixpoint detection —
  * rank deltas shrink geometrically, so a fixed budget is the standard
  * production form), and all arithmetic is 10¹²-unit INTEGER fixed point:
  * `rank // outdeg` and `(85·m) // 100` are exact integer ops in both
  * engines, so 8 chained iterations stay bit-identical cross-engine — no
  * float accumulation drift, which is what makes an ITERATIVE oracle
  * hash-match where a double formulation would diverge by iteration 3.
  */
object GraphOps {

  def all: Seq[Q] = Seq(q113Pagerank, q134TriangleClustering, q157BfsHops,
    q181DegreeAssortativity, q182KCore, q190LabelPropagation,
    q198AdamicAdar)

  private val Iters = 8
  private val Mass = 1000000000000L // 10^12 micro-units of total rank
  private val JumpNum = 150000000000L // 0.15 · Mass
  private val MinPairCount = 15 // edge threshold: keeps degrees asymmetric

  /** Integer fixed-point PageRank on a directed edge list (`src`, `dst`;
    * every node must appear as a src — callers build symmetric edges or
    * pre-drop dangling nodes). Per round: contributions `rank div outdeg`
    * shuffle once on dst, damp with `0.15/N + 0.85·Σ` in exact integer
    * math, left-join back to the node list so sinks with no in-edges keep
    * the jump mass. The floor in each division leaks < 1 unit per edge per
    * round — bounded, deterministic, and identical in the oracle.
    *
    * 100 TB posture: state per round is one (node, rank) table partitioned
    * by the same join key as the edge shuffle; nothing rank-sized ever
    * reaches the driver (the lone `nodes.count()` is a 1-scalar probe, the
    * Profile.scala:55 shape). localCheckpoint per round keeps the plan from
    * growing with the iteration count — the q74 lesson.
    */
  def pageRank(edges: DataFrame, iters: Int = Iters): DataFrame = {
    // pre-partition the loop-invariant sides ON THEIR JOIN KEYS before
    // checkpointing: LogicalRDD keeps the checkpointed partitioning, so
    // every subsequent round's rank⋈edge join re-exchanges only the
    // round-fresh ranks — the edge table (the big side at scale) shuffles
    // ONCE for the whole run instead of once per iteration
    val e = edges.select(col("src"), col("dst"))
      .repartition(col("src")).transform(graft.operators.Iter.pin)
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
      .withColumnRenamed("src", "dnode")
    val nodes = e.select(col("src").as("node")).distinct().transform(graft.operators.Iter.pin)
    val n = nodes.count()
    // empty graph → empty ranks with the right schema (the oracle's
    // recursive chain over an empty edge set is empty; the old require
    // crashed the whole gate on a legitimately empty corpus — r17
    // empty-corpus audit)
    if (n == 0)
      return nodes.select(col("node"), lit(0L).as("rank"))
    val jump = JumpNum / n
    var ranks = nodes.select(col("node"), lit(Mass / n).as("rank"))
    for (_ <- 1 to iters) {
      val contrib = ranks
        .join(e, ranks("node") === e("src"))
        .join(deg, e("src") === col("dnode"))
        .select(col("dst").as("node"), expr("rank div outdeg").as("c"))
        .groupBy(col("node")).agg(sum(col("c")).as("m"))
      ranks = nodes.join(contrib, Seq("node"), "left")
        .select(col("node"),
          (lit(jump)
            + expr("(85 * coalesce(m, CAST(0 AS BIGINT))) div 100"))
            .as("rank"))
        .transform(graft.operators.Iter.pin)
    }
    ranks
  }

  /** PageRank over the user↔event-type behavior graph: an edge per
    * (user, type) pair seen ≥ 15 times, symmetrized so every node has
    * outdegree ≥ 1 (no dangling-mass special case). The frequency
    * threshold is what makes the fixture non-trivial — below it the graph
    * is complete bipartite and every rank collapses to uniform. The oracle
    * is the SAME integer recurrence unrolled into 8 chained CTEs (the q74
    * recursive-CTE discipline, minus recursion — aggregation inside a
    * recursive reference isn't portable SQL).
    */
  val q113Pagerank = Q(
    "q113_pagerank",
    pagerankOracle,
  ) { (s, d) =>
    val e0 = Tables.events(s, d)
      .groupBy(concat(lit("u:"), col("user_id").cast("string")).as("src"),
        concat(lit("t:"), col("event_type")).as("dst"))
      .agg(count(lit(1)).as("c"))
      .filter(col("c") >= MinPairCount)
      .select(col("src"), col("dst"))
    val edges = e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
    pageRank(edges, Iters)
      .orderBy(col("rank").desc, col("node"))
  }

  /** The q113 recurrence as portable SQL: iteration k is a CTE reading
    * iteration k−1 — same integer ops (`//`, `85·m // 100`), same
    * left-join sink handling, so the hash compare covers all 8 rounds. */
  private def pagerankOracle: String = {
    val iterCtes = (1 to Iters).map { k =>
      s"""r$k AS (
         |  SELECT n.node,
         |    CAST(($JumpNum // (SELECT count(*) FROM n))
         |      + (85 * coalesce(s.m, 0)) // 100 AS BIGINT) AS rank
         |  FROM n LEFT JOIN (
         |    SELECT e.dst AS node, sum(r.rank // d.outdeg) AS m
         |    FROM r${k - 1} r JOIN e ON r.node = e.src
         |      JOIN deg d ON d.src = r.node
         |    GROUP BY e.dst) s ON n.node = s.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH e0 AS (
       |  SELECT 'u:' || CAST(user_id AS VARCHAR) AS src,
       |    't:' || event_type AS dst
       |  FROM events GROUP BY 1, 2 HAVING count(*) >= $MinPairCount),
       |e AS (SELECT src, dst FROM e0
       |      UNION ALL SELECT dst AS src, src AS dst FROM e0),
       |n AS (SELECT DISTINCT src AS node FROM e),
       |deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
       |r0 AS (SELECT node,
       |  CAST($Mass // (SELECT count(*) FROM n) AS BIGINT) AS rank FROM n),
       |$iterCtes
       |SELECT node, rank FROM r$Iters
       |ORDER BY rank DESC, node NULLS FIRST""".stripMargin
  }

  /** Triangle counting + local clustering coefficient over the dedup
    * affinity graph (q74's affix-band edges) — "how clique-like is each
    * duplicate neighborhood": a node whose neighbors all pair with each
    * other (coefficient 1) sits inside a true duplicate CLUSTER; a hub
    * with an empty neighborhood graph (coefficient 0) is a template
    * artifact bridging unrelated docs. Per node: degree d, triangle count
    * T, coefficient 2T / (d(d−1)) (NULL when d < 2 — undefined, not 0).
    *
    * Enumeration is DEGREE-ORIENTED node-iterator (the compact-forward
    * algorithm): every edge is directed from its lower (degree, id)
    * endpoint to the higher, each triangle then has exactly ONE apex with
    * two out-edges, and the wedge join's fan-out is bounded by out-degree
    * ≤ O(√m) on any graph — the property that keeps the join off the
    * quadratic cliff on skewed degree distributions, where the naive
    * id-oriented 3-way join piles every wedge of a low-id hub into one
    * task. The DuckDB twin IS the naive id-oriented 3-way join: two
    * different enumeration orders must produce the identical triangle
    * set, so the hash-match re-proves the orientation argument on real
    * data.
    *
    * Plan: edges are doc-pair-proportional (banded equi joins, ScaleSpec
    * family); wedges shuffle on the apex, the closing semi join shuffles
    * on the (b, c) edge key — both candidate-proportional; per-node
    * counts are one map-side-combined aggregate off a 3× explode.
    */
  val q134TriangleClustering = Q(
    "q134_triangle_clustering",
    s"""WITH n AS (
       |  SELECT doc_id,
       |    sha256(substr(text, 1, 50)) AS hp,
       |    sha256(substr(text, greatest(length(text) - 49, 1), 50)) AS hs
       |  FROM documents
       |),
       |e0 AS (
       |  SELECT a.doc_id AS a, b.doc_id AS b
       |  FROM n a JOIN n b ON a.hp = b.hp AND a.doc_id < b.doc_id
       |  UNION
       |  SELECT a.doc_id, b.doc_id
       |  FROM n a JOIN n b ON a.hs = b.hs AND a.doc_id < b.doc_id
       |),
       |sym AS (SELECT a, b FROM e0 UNION ALL SELECT b AS a, a AS b FROM e0),
       |deg AS (SELECT a AS v, count(*) AS degree FROM sym GROUP BY a),
       |tri AS (
       |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
       |  FROM e0 e1 JOIN e0 e2 ON e1.b = e2.a
       |    JOIN e0 e3 ON e3.a = e1.a AND e3.b = e2.b
       |),
       |tc AS (
       |  SELECT v, count(*) AS triangles
       |  FROM (SELECT unnest([x, y, z]) AS v FROM tri) u GROUP BY v
       |)
       |SELECT d.v AS doc_id, CAST(d.degree AS BIGINT) AS degree,
       |  CAST(coalesce(tc.triangles, 0) AS BIGINT) AS triangles,
       |  ${graft.functions.Exact.Sql.ratio6(
             "2 * coalesce(tc.triangles, 0)", "d.degree * (d.degree - 1)")}
       |    AS clustering
       |FROM deg d LEFT JOIN tc ON d.v = tc.v
       |ORDER BY doc_id NULLS FIRST""".stripMargin,
  ) { (s, d) =>
    triangleClustering(Dedup.affixPairs(Fan.fan(Tables.documents(s, d))))
  }

  /** q134's core over any undirected pair list `(a, b)` with a < b
    * (GraphSpec's synthetic-graph entry). */
  def triangleClustering(e0: DataFrame): DataFrame = {
    val sym = e0.union(e0.select(col("b").as("a"), col("a").as("b")))
    val deg = sym.groupBy(col("a").as("v")).agg(count(lit(1)).as("degree"))
    // orient each edge from its lower (degree, id) endpoint to the higher;
    // struct comparison gives the lexicographic (degree, id) order
    val withDeg = e0
      .join(deg.select(col("v"), struct(col("degree"), col("v")).as("ka")),
        col("a") === col("v")).drop("v")
      .join(deg.select(col("v"), struct(col("degree"), col("v")).as("kb")),
        col("b") === col("v")).drop("v")
    val oriented = withDeg.select(
      when(col("ka") < col("kb"), col("a")).otherwise(col("b")).as("src"),
      when(col("ka") < col("kb"), col("b")).otherwise(col("a")).as("dst"),
      when(col("ka") < col("kb"), col("kb")).otherwise(col("ka")).as("kd"))
    // wedges at the apex: unordered out-neighbor pairs, canonicalized by
    // the same (degree, id) key so each pair appears once
    val wedges = oriented.as("x").join(oriented.as("y"),
        col("x.src") === col("y.src") && col("x.kd") < col("y.kd"))
      .select(col("x.src").as("apex"), col("x.dst").as("b"),
        col("y.dst").as("c"))
    // a wedge closes iff the oriented edge b→c exists (b precedes c in
    // (degree, id) order by construction of the wedge)
    val tri = wedges.join(oriented.select(col("src"), col("dst")),
      col("b") === col("src") && col("c") === col("dst"), "left_semi")
    val tc = tri
      .select(explode(array(col("apex"), col("b"), col("c"))).as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("triangles"))
    deg.join(tc, Seq("v"), "left")
      .select(col("v").as("doc_id"), col("degree").cast("long").as("degree"),
        coalesce(col("triangles"), lit(0L)).cast("long").as("triangles"),
        graft.functions.Exact.ratio6(
          "2 * coalesce(triangles, CAST(0 AS BIGINT))",
          "degree * (degree - 1)").as("clustering"))
      .orderBy(col("doc_id"))
  }

  private val BfsHops = 4

  /** MULTI-SOURCE BFS — minimum hop distance from a seed set over the
    * part co-purchase graph (parts linked when bought together in ≥ 2
    * orders — q153's bounded pair generator reused as an edge builder;
    * seeds are the p_size = 1 parts). The "blast radius / related items
    * within k hops" operator behind catalog expansion and contamination
    * spread analysis.
    *
    * Iteration is the house idiom (q113/q74): the loop-invariant edge
    * list is pre-partitioned on its join key and checkpointed ONCE; each
    * of the 4 fixed rounds is one dist⋈edges equi-join plus a min
    * aggregate on the SAME key, and per-round state (node → dist) never
    * reaches the driver. Distances are small exact ints, so the oracle is
    * the identical recurrence as 4 unrolled CTEs — bit-equal by
    * construction, no float anywhere. A frontier-delta variant (join only
    * nodes whose dist changed last round) saves work on high-diameter
    * graphs; at 4 hops over a dense co-purchase graph the full-state join
    * is smaller than the bookkeeping, so this form is the right one.
    */
  val q157BfsHops = Q(
    "q157_bfs_hops",
    bfsOracle,
  ) { (s, d) =>
    val b = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
    val pp = b.as("a").join(b.as("b2"),
        col("a.l_orderkey") === col("b2.l_orderkey")
          && col("a.l_partkey") < col("b2.l_partkey"))
      .groupBy(col("a.l_partkey").as("pa"), col("b2.l_partkey").as("pb"))
      .agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= 2)
      .select(col("pa"), col("pb"))
    val edges = pp.union(pp.select(col("pb").as("pa"), col("pa").as("pb")))
      .toDF("src", "dst")
      .repartition(col("src")).transform(graft.operators.Iter.pin)
    var dist = Tables.part(s, d).filter(col("p_size") === 1)
      .select(col("p_partkey").as("node"), lit(0L).as("dist"))
    for (_ <- 1 to BfsHops) {
      val next = dist.join(edges, dist("node") === edges("src"))
        .select(col("dst").as("node"), (col("dist") + 1L).as("dist"))
      dist = dist.union(next)
        .groupBy(col("node")).agg(min(col("dist")).as("dist"))
        .transform(graft.operators.Iter.pin)
    }
    dist.select(col("node").as("part"), col("dist").cast("long").as("dist"))
      .orderBy(col("part"))
  }

  /** The q157 recurrence unrolled: round k's CTE is (round k−1) ∪
    * (round k−1 ⋈ edges, +1) → group-min — same integer ops, so the hash
    * compare covers every round. */
  private def bfsOracle: String = {
    val rounds = (1 to BfsHops).map { k =>
      s"""d$k AS (
         |  SELECT node, CAST(min(dist) AS BIGINT) AS dist FROM (
         |    SELECT node, dist FROM d${k - 1}
         |    UNION ALL
         |    SELECT e.dst AS node, p.dist + 1 AS dist
         |    FROM d${k - 1} p JOIN e ON p.node = e.src) x
         |  GROUP BY node)""".stripMargin
    }.mkString(",\n")
    s"""WITH b AS (
       |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |pp AS (
       |  SELECT a.l_partkey AS pa, b2.l_partkey AS pb
       |  FROM b a JOIN b b2 ON a.l_orderkey = b2.l_orderkey
       |    AND a.l_partkey < b2.l_partkey
       |  GROUP BY 1, 2 HAVING count(*) >= 2),
       |e AS (SELECT pa AS src, pb AS dst FROM pp
       |      UNION ALL SELECT pb AS src, pa AS dst FROM pp),
       |d0 AS (SELECT p_partkey AS node, CAST(0 AS BIGINT) AS dist
       |       FROM part WHERE p_size = 1),
       |$rounds
       |SELECT node AS part, dist FROM d$BfsHops
       |ORDER BY part NULLS FIRST""".stripMargin
  }

  /** DEGREE ASSORTATIVITY — does the co-purchase graph wire hubs to hubs
    * (r > 0, social-network-like) or hubs to leaves (r < 0,
    * infrastructure-like)? Newman's coefficient is the Pearson
    * correlation of endpoint degrees over DIRECTED edges (each undirected
    * edge contributes both orientations, which is exactly what the
    * symmetric edge list already is) — so the whole operator is the q163
    * moment discipline on graph structure: five exact int64 sums over
    * (deg_src, deg_dst) pairs, one fixed-order double finish with
    * correctly-rounded IEEE sqrt, nullif on degree-regular degenerates.
    * Complements q134: triangles measure local clique-ness, assortativity
    * the global mixing pattern.
    *
    * Plan: the q157/q113 edge construction (basket-keyed equi self-join,
    * ≥2-support), one degree aggregate, two node-keyed joins to decorate
    * edges with endpoint degrees, one 1-row moment finish. Degrees join
    * back by node key — never a matrix, never a collect.
    */
  val q181DegreeAssortativity = Q(
    "q181_degree_assortativity",
    """WITH b AS (
      |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |pp AS (
      |  SELECT a.l_partkey AS pa, b2.l_partkey AS pb
      |  FROM b a JOIN b b2 ON a.l_orderkey = b2.l_orderkey
      |    AND a.l_partkey < b2.l_partkey
      |  GROUP BY 1, 2 HAVING count(*) >= 2),
      |e AS (SELECT pa AS src, pb AS dst FROM pp
      |      UNION ALL SELECT pb AS src, pa AS dst FROM pp),
      |deg AS (SELECT src AS node, count(*) AS d FROM e GROUP BY src),
      |ed AS (
      |  SELECT ds.d AS x, dd.d AS y
      |  FROM e JOIN deg ds ON e.src = ds.node
      |         JOIN deg dd ON e.dst = dd.node),
      |m AS (
      |  SELECT CAST(count(*) AS BIGINT) AS mm,
      |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
      |    CAST(sum(x * y) AS BIGINT) AS sxy,
      |    CAST(sum(x * x) AS BIGINT) AS sxx,
      |    CAST(sum(y * y) AS BIGINT) AS syy
      |  FROM ed)
      |SELECT (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_nodes,
      |  mm // 2 AS n_edges,
      |  round((CAST(mm AS DOUBLE) * CAST(sxy AS DOUBLE)
      |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |    / nullif(sqrt(CAST(mm AS DOUBLE) * CAST(sxx AS DOUBLE)
      |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |      * sqrt(CAST(mm AS DOUBLE) * CAST(syy AS DOUBLE)
      |        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)), 0), 6)
      |    AS assortativity
      |FROM m""".stripMargin,
  ) { (s, d) =>
    val b = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
    val pp = b.as("a").join(b.as("b2"),
        col("a.l_orderkey") === col("b2.l_orderkey")
          && col("a.l_partkey") < col("b2.l_partkey"))
      .groupBy(col("a.l_partkey").as("pa"), col("b2.l_partkey").as("pb"))
      .agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= 2)
      .select(col("pa"), col("pb"))
      // r21: pp's subtree (distinct + basket self-join + support agg) is
      // instantiated FOUR times in the final plan (the union's two
      // branches × the deg subtree and the edge-decoration joins);
      // physical exchange reuse deduplicates it only when AQE happens to
      // keep the subplans byte-identical. Pin it once — same discipline
      // as the iterative operators (guide §2.4: share one exchange).
      .transform(graft.operators.Iter.pin)
    val e = pp.union(pp.select(col("pb").as("pa"), col("pa").as("pb")))
      .toDF("src", "dst")
    val deg = e.groupBy(col("src").as("node")).agg(count(lit(1)).as("d"))
      .transform(graft.operators.Iter.pin) // 3 consumers: count + x/y joins
    val nNodes = deg.agg(count(lit(1)).cast("long").as("n_nodes"))
    val m = e
      .join(deg.select(col("node"), col("d").as("x")),
        col("src") === col("node")).drop("node")
      .join(deg.select(col("node"), col("d").as("y")),
        col("dst") === col("node")).drop("node")
      .agg(count(lit(1)).cast("long").as("mm"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
    m.crossJoin(broadcast(nNodes))
      .select(col("n_nodes"), expr("mm div 2").as("n_edges"),
        round(expr(
          """(CAST(mm AS DOUBLE) * CAST(sxy AS DOUBLE)
            |    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
            |  / nullif(sqrt(CAST(mm AS DOUBLE) * CAST(sxx AS DOUBLE)
            |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
            |    * sqrt(CAST(mm AS DOUBLE) * CAST(syy AS DOUBLE)
            |      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)),
            |    CAST(0 AS DOUBLE))""".stripMargin), 6).as("assortativity"))
  }

  private val KCoreK = 2
  private val KCoreRounds = 4

  /** K-CORE PEELING — the density filter under every community pipeline:
    * repeatedly delete nodes of degree < k until none remain; what
    * survives is the k-core, the maximal subgraph where everyone has ≥ k
    * surviving neighbors. Run over q74/q141's affix dedup-affinity graph
    * (docs sharing a 50-char prefix or suffix hash), the peel isolates
    * the DENSE duplicate communities — template families whose members
    * all resemble ≥ k siblings — from pairwise-only matches: the graph
    * analog of q117's survivor selection, and the pre-filter a clustering
    * pass runs before expensive within-community comparison. (First cut
    * used the ≥2-support co-purchase graph: its 3-core is 965 parts at
    * sf0.01 but EMPTY at sf0.1 — synthetic co-purchases dilute with
    * scale; the affix graph keeps real cores at both scales, 3 and 28
    * docs.) k = 2, four fixed peeling rounds; the FIXED round count is
    * what makes the iteration oracle-hash-checkable as unrolled CTEs
    * (the q113/q157 discipline), and the suite proves the converged
    * fixpoint survives round 4. Output: surviving docs with their
    * round-4 induced degree.
    *
    * Plan: each round is one degree aggregate over the surviving edge
    * set + one semi-join restriction per endpoint — all node/edge-keyed
    * equi joins, state off-driver, lineage cut per round
    * (localCheckpoint), the iterative-family posture (q113's loop notes).
    */
  val q182KCore = Q(
    "q182_kcore",
    {
      val rounds = (1 to KCoreRounds).map { r =>
        s"""g$r AS (
           |  SELECT src, dst FROM g${r - 1}
           |  WHERE src IN (SELECT node FROM n$r)
           |    AND dst IN (SELECT node FROM n$r)),
           |n${r + 1} AS (
           |  SELECT src AS node, count(*) AS deg FROM g$r
           |  GROUP BY src HAVING count(*) >= $KCoreK)""".stripMargin
      }.mkString(",\n")
      s"""WITH n AS (
         |  SELECT doc_id,
         |    sha256(substr(text, 1, 50)) AS hp,
         |    sha256(substr(text, greatest(length(text) - 49, 1), 50)) AS hs
         |  FROM documents),
         |e0 AS (
         |  SELECT a.doc_id AS a, b.doc_id AS b
         |  FROM n a JOIN n b ON a.hp = b.hp AND a.doc_id < b.doc_id
         |  UNION
         |  SELECT a.doc_id AS a, b.doc_id AS b
         |  FROM n a JOIN n b ON a.hs = b.hs AND a.doc_id < b.doc_id),
         |g0 AS (SELECT a AS src, b AS dst FROM e0
         |       UNION ALL SELECT b AS src, a AS dst FROM e0),
         |n1 AS (
         |  SELECT src AS node, count(*) AS deg FROM g0
         |  GROUP BY src HAVING count(*) >= $KCoreK),
         |$rounds
         |SELECT node AS doc_id, CAST(deg AS BIGINT) AS deg
         |FROM n${KCoreRounds + 1}
         |ORDER BY doc_id NULLS FIRST""".stripMargin
    },
  ) { (s, d) =>
    val n = Fan.fan(Tables.documents(s, d))
      .select(col("doc_id"),
        sha2(substring(col("text"), 1, 50), 256).as("hp"),
        sha2(expr("substr(text, greatest(length(text) - 49, 1), 50)"), 256)
          .as("hs"))
    def band(h: String) = n.as("a").join(n.as("b"),
        col(s"a.$h") === col(s"b.$h") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a"), col("b.doc_id").as("b"))
    val e0 = band("hp").union(band("hs")).distinct()
    var g = e0.union(e0.select(col("b").as("a"), col("a").as("b")))
      .toDF("src", "dst")
      .transform(graft.operators.Iter.pin)
    var surv = g.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
      .filter(col("deg") >= KCoreK)
    for (_ <- 1 to KCoreRounds) {
      // two independently-aliased copies of the survivor list — reusing
      // one frame in both semi joins would collide attribute ids
      val keepA = surv.select(col("node").as("ka"))
      val keepB = surv.select(col("node").as("kb"))
      g = g.join(keepA, col("src") === col("ka"), "left_semi")
        .join(keepB, col("dst") === col("kb"), "left_semi")
        .transform(graft.operators.Iter.pin)
      surv = g.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= KCoreK)
    }
    surv.select(col("node").as("doc_id"), col("deg").cast("long").as("deg"))
      .orderBy(col("doc_id"))
  }

  private val LpaRounds = 4

  /** LABEL PROPAGATION communities — the near-linear community detector
    * (Raghavan et al.'s LPA) the graph family lacked: where q74's
    * connected components answer "what is REACHABLE", LPA answers "what
    * is DENSELY knit" — a bridge edge joins two components into one CC
    * but majority voting keeps the two communities apart. Synchronous,
    * FIXED-round (4), fully deterministic variant: label₀(v) = v; each
    * round every node adopts the most frequent label among its
    * NEIGHBORS, ties broken by smallest label — the async/random-order
    * LPA of the paper trades determinism for convergence speed, and a
    * deterministic engine takes the opposite trade (synchronous LPA can
    * oscillate on bipartite structures, which a FIXED round budget turns
    * into a defined, replayable answer rather than a hang).
    *
    * All state is integer (labels ARE doc ids), so 4 chained rounds
    * hash-match the oracle's unrolled CTEs — the q113/q157 iterative
    * discipline, fourth instance. Plan: edges build once (q74's banded
    * equi joins), repartition(dst)+checkpoint pins the loop-invariant
    * side; per round ONE edge⋈label join shuffling only round-fresh
    * labels, a (node, label)-combined count aggregate, and a
    * node-partitioned argmax window — everything edge- or
    * node-proportional, rounds fixed, state off-driver.
    */
  val q190LabelPropagation = Q(
    "q190_label_propagation",
    {
      val rounds = (1 to LpaRounds).map { k =>
        s"""l$k AS (
           |  SELECT node, label FROM (
           |    SELECT g.src AS node, l.label, count(*) AS c,
           |      row_number() OVER (PARTITION BY g.src
           |        ORDER BY count(*) DESC, l.label) AS rk
           |    FROM g0 g JOIN l${k - 1} l ON g.dst = l.node
           |    GROUP BY g.src, l.label) x
           |  WHERE rk = 1)""".stripMargin
      }.mkString(",\n")
      s"""WITH n AS (
         |  SELECT doc_id,
         |    sha256(substr(text, 1, 50)) AS hp,
         |    sha256(substr(text, greatest(length(text) - 49, 1), 50)) AS hs
         |  FROM documents
         |),
         |e0 AS (
         |  SELECT a.doc_id AS a, b.doc_id AS b
         |  FROM n a JOIN n b ON a.hp = b.hp AND a.doc_id < b.doc_id
         |  UNION
         |  SELECT a.doc_id, b.doc_id
         |  FROM n a JOIN n b ON a.hs = b.hs AND a.doc_id < b.doc_id
         |),
         |g0 AS (SELECT a AS src, b AS dst FROM e0
         |       UNION ALL SELECT b AS src, a AS dst FROM e0),
         |l0 AS (SELECT DISTINCT src AS node, src AS label FROM g0),
         |$rounds,
         |sz AS (SELECT label, count(*) AS community_size
         |       FROM l$LpaRounds GROUP BY label)
         |SELECT l.node AS doc_id, l.label AS community,
         |  CAST(s.community_size AS BIGINT) AS community_size
         |FROM l$LpaRounds l JOIN sz s ON l.label = s.label
         |ORDER BY community NULLS FIRST, doc_id NULLS FIRST""".stripMargin
    },
  ) { (s, d) =>
    val n = Fan.fan(Tables.documents(s, d))
      .select(col("doc_id"),
        sha2(substring(col("text"), 1, 50), 256).as("hp"),
        sha2(expr("substr(text, greatest(length(text) - 49, 1), 50)"), 256)
          .as("hs"))
    def band(h: String) = n.as("a").join(n.as("b"),
        col(s"a.$h") === col(s"b.$h") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a"), col("b.doc_id").as("b"))
    val e0 = band("hp").union(band("hs")).distinct()
    val g = e0.union(e0.select(col("b").as("a"), col("a").as("b")))
      .toDF("src", "dst")
    labelPropagation(g, LpaRounds)
      .select(col("node").as("doc_id"), col("community"),
        col("community_size"))
      .orderBy(col("community"), col("doc_id"))
  }

  /** q190's recurrence over any SYMMETRIC (`src`, `dst`) edge list —
    * GraphSpec's crafted-graph nets come through here. */
  private[graft] def labelPropagation(
      edges: DataFrame, rounds: Int): DataFrame = {
    val g = edges.select(col("src"), col("dst"))
      .repartition(col("dst")).transform(graft.operators.Iter.pin)
    var labels = g.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("label"))
      .transform(graft.operators.Iter.pin)
    val argmax = Window.partitionBy(col("node"))
      .orderBy(col("c").desc, col("label"))
    for (_ <- 1 to rounds) {
      labels = g.join(labels, g("dst") === labels("node"))
        .groupBy(g("src").as("node"), col("label"))
        .agg(count(lit(1)).as("c"))
        .withColumn("rk", row_number().over(argmax))
        .filter(col("rk") === 1)
        .select(col("node"), col("label"))
        .transform(graft.operators.Iter.pin)
    }
    val sz = labels.groupBy(col("label"))
      .agg(count(lit(1)).as("community_size"))
    labels.join(sz, "label")
      .select(col("node"), col("label").as("community"),
        col("community_size").cast("long").as("community_size"))
  }

  /** ADAMIC–ADAR LINK PREDICTION — the classic "which items belong
    * together" score over the bipartite behavior graph (users ↔ event
    * types, q113's ≥ 15-events incidence): for each type pair, the sum
    * over common users of 1/ln(deg(user)) — a co-occurrence signal that
    * DISCOUNTS promiscuous neighbors, which is exactly what separates it
    * from q153's lift (probability ratio, no degree weighting). Exact
    * Jaccard of the two user sets rides along from the same margins.
    *
    * Exactness: incidence/degrees are exact int64; a common neighbor has
    * deg ≥ 2 by construction (it touches both endpoints), so ln(deg) > 0
    * and each weight is one explicit double divide of a float-cast ln
    * (both operands re-widened to DOUBLE — DuckDB would otherwise divide
    * FLOAT/FLOAT in float, the q197 lesson); the pair sum is
    * DECIMAL(18,9).
    *
    * Plan: one (user, type) aggregate (map-side combined), then the
    * standard item-item self-join on user_id — Σᵤ deg(u)² pair rows.
    * The hot-key guard is IMPLEMENTED (see [[adamicAdarPlan]]): each
    * user's incidence list is capped at its [[HotKeyCap]] = 64
    * most-active types before the self-join, bounding per-user pair
    * fan-out at C(64,2) = 2016 rows no matter how promiscuous the key.
    * On this fixture's bounded catalog (deg ≤ |types| ≈ 10 < 64) the
    * cap is INACTIVE, so the full-join oracle below hash-matching is
    * the standing cap-does-not-bite proof (the q193 pattern); GraphSpec
    * additionally pins cap-inactive equality against an uncapped run
    * and the capped-flood semantics on a planted 12-type user.
    */
  val q198AdamicAdar = Q(
    "q198_adamic_adar",
    s"""WITH inc AS (
      |  SELECT user_id, event_type FROM events
      |  WHERE user_id IS NOT NULL AND event_type IS NOT NULL
      |  GROUP BY 1, 2 HAVING count(*) >= $MinPairCount
      |),
      |deg AS (SELECT user_id, CAST(count(*) AS BIGINT) AS du
      |        FROM inc GROUP BY 1),
      |tdeg AS (SELECT event_type, CAST(count(*) AS BIGINT) AS dt
      |         FROM inc GROUP BY 1),
      |pairs AS (
      |  SELECT a.event_type AS type_a, b.event_type AS type_b, a.user_id
      |  FROM inc a JOIN inc b
      |    ON a.user_id = b.user_id AND a.event_type < b.event_type
      |),
      |sc AS (
      |  SELECT type_a, type_b,
      |    CAST(count(*) AS BIGINT) AS common_users,
      |    CAST(sum(CAST(CAST(1.0 AS DOUBLE)
      |      / CAST(CAST(ln(CAST(d.du AS DOUBLE)) AS FLOAT) AS DOUBLE)
      |      AS DECIMAL(18,9))) AS DOUBLE) AS aa
      |  FROM pairs p JOIN deg d ON d.user_id = p.user_id
      |  GROUP BY 1, 2
      |)
      |SELECT sc.type_a, sc.type_b, sc.common_users,
      |  round(sc.aa, 6) AS adamic_adar,
      |  round(CAST(sc.common_users AS DOUBLE)
      |    / CAST(ta.dt + tb.dt - sc.common_users AS DOUBLE), 6) AS jaccard
      |FROM sc JOIN tdeg ta ON ta.event_type = sc.type_a
      |  JOIN tdeg tb ON tb.event_type = sc.type_b
      |ORDER BY adamic_adar DESC, type_a, type_b""".stripMargin,
  ) { (s, d) => adamicAdarPlan(Tables.events(s, d), HotKeyCap) }

  /** Per-user incidence cap for [[adamicAdarPlan]]: C(64,2) = 2016 pair
    * rows per user worst-case — the Σdeg² fan-out becomes O(users·64²)
    * instead of O(users·catalog²). 64 comfortably exceeds every deg on
    * the fixtures (≈ 10 types), so the registered q198 is cap-inactive
    * and oracle-provable; a deployment against an unbounded item
    * catalog would dial this to its accuracy/cost point. */
  private[graft] val HotKeyCap = 64

  /** Spark-side builder for q198, parameterized on the per-user hot-key
    * cap. Selection is the DETERMINISTIC top-cap: row_number over
    * (user) ordered by (activity count DESC, event_type) — the q32
    * pre-collapse spirit applied to incidence lists, with the q188
    * exact-argmax tie discipline so capped output is engine-stable.
    * Degrees (both user-degree weights and the Jaccard type margins)
    * stay UNCAPPED-exact: the cap bounds only which pairs a flooded
    * user can witness, never the 1/ln(deg) weight or the |A∪B| margin —
    * so where the cap is inactive the result is exactly the full join,
    * and where it bites, common_users/adamic_adar become conservative
    * lower bounds with honest margins (stated, suite-pinned). */
  private[graft] def adamicAdarPlan(
      ev: DataFrame, capPerUser: Int): DataFrame = {
    val incAll = ev
      .filter(col("user_id").isNotNull && col("event_type").isNotNull)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("cc"))
      .filter(col("cc") >= MinPairCount)
      .transform(graft.operators.Iter.pin) // consumers: degrees, margins, capped pair sides
    val deg = incAll.groupBy(col("user_id"))
      .agg(count(lit(1)).cast("long").as("du"))
    val tdeg = incAll.groupBy(col("event_type"))
      .agg(count(lit(1)).cast("long").as("dt"))
    val inc = incAll
      .withColumn("rk", row_number().over(Window.partitionBy(col("user_id"))
        .orderBy(col("cc").desc, col("event_type"))))
      .filter(col("rk") <= capPerUser)
      .select(col("user_id"), col("event_type"))
    val a = inc.select(col("user_id"), col("event_type").as("type_a"))
    val b = inc.select(col("user_id").as("b_uid"),
      col("event_type").as("type_b"))
    val sc = a.join(b,
        col("user_id") === col("b_uid") && col("type_a") < col("type_b"))
      .join(deg, "user_id")
      .groupBy(col("type_a"), col("type_b"))
      .agg(count(lit(1)).cast("long").as("common_users"),
        sum(expr("""CAST(CAST(1.0 AS DOUBLE)
          |  / CAST(CAST(ln(CAST(du AS DOUBLE)) AS FLOAT) AS DOUBLE)
          |  AS DECIMAL(18,9))""".stripMargin)).cast("double").as("aa"))
    sc.join(broadcast(tdeg.select(col("event_type").as("type_a"),
        col("dt").as("dt_a"))), "type_a")
      .join(broadcast(tdeg.select(col("event_type").as("type_b"),
        col("dt").as("dt_b"))), "type_b")
      .select(col("type_a"), col("type_b"), col("common_users"),
        round(col("aa"), 6).as("adamic_adar"),
        round(expr("""CAST(common_users AS DOUBLE)
          |  / CAST(dt_a + dt_b - common_users AS DOUBLE)""".stripMargin), 6)
          .as("jaccard"))
      .orderBy(col("adamic_adar").desc, col("type_a"), col("type_b"))
  }
}
