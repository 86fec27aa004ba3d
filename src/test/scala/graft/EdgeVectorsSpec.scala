package graft

import org.apache.spark.sql.functions._

/** Degenerate EMBEDDINGS inputs: a zero vector has norm 0, so its cosine
  * against anything is undefined — the operators must yield NULL there
  * (DuckDB's division semantics; every threshold/rank filter then drops
  * the pair) instead of an ANSI divide-by-zero crash.
  */
class EdgeVectorsSpec extends SparkSpec {

  private lazy val dir: String = {
    val d = "/tmp/graft_edge_vectors"
    import spark.implicits._
    val dims = 8
    def v(seed: Int): Array[Float] =
      Array.tabulate(dims)(i => ((seed * 31 + i * 7) % 13 - 6).toFloat / 4f)
    val rows =
      (0L until 20L).map(i => (i, v(i.toInt), (i % 3).toInt)) :+
        (99L, Array.fill(dims)(0f), 0) // the ZERO vector
    rows.toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    d
  }

  test("cosine operators survive a zero vector (NULL cos, filtered out)") {
    for (name <- Seq("q34_cosine_neardup", "q35_cosine_topk", "q36_ann_ivf",
      "q118_mmr_rerank"))
    {
      val rows = SparkEntry.queries(name)(spark, dir).collect()
      // the zero vector never appears in any scored pair output
      assert(rows.forall(r => !r.toSeq.contains(99L)),
        s"$name surfaced the zero vector: ${rows.mkString(", ")}")
    }
  }

  test("q251 silhouette: zero vector is an ordinary member; a single-" +
      "label corpus has no foreign centroid and reports NULL means") {
    val rows = SparkEntry.queries("q251_silhouette")(spark, dir).collect()
    assert(rows.length === 3) // labels 0,1,2 — zero vector participates
    assert(rows.forall(r => !r.isNullAt(2)), "multi-label means are real")
    // single-label corpus: b is undefined for every vector → NULL mean
    // silhouette, negative share 0 (no vector scores at all)
    val d1 = "/tmp/graft_edge_vectors_onelabel"
    import spark.implicits._
    val rows1 = (0L until 6L).map(i =>
      (i, Array.tabulate(8)(j => (i + j).toFloat / 10f), 5))
    rows1.toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$d1/embeddings.parquet")
    val got = SparkEntry.queries("q251_silhouette")(spark, d1).collect()
    assert(got.length === 1 && got.head.getLong(1) === 6L)
    assert(got.head.isNullAt(2), "no foreign centroid → NULL mean")
    assert(got.head.getDouble(3) === 0.0, "negative share counts nothing")
  }

  test("q93 centroids tolerate the zero vector as an ordinary member") {
    val rows = SparkEntry.queries("q93_label_centroids")(spark, dir)
      .collect()
    assert(rows.length === 3) // labels 0,1,2
  }

  test("q102 semantic dedup keeps the zero vector (NULL cosine dominates nothing)") {
    val kept = SparkEntry.queries("q102_semantic_dedup")(spark, dir)
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    // NULL >= threshold is never true, so the zero vector is neither
    // dominated nor dominating — it must survive the prune
    assert(kept.contains(99L), "zero vector was pruned")
  }

  test("q268/q269 degenerate: the zero vector is an ordinary anisotropy " +
      "member; coincident points are excluded from the TwoNN MLE") {
    // zero vector contributes 0 to every sum — label 0 stays defined
    val an = SparkEntry.queries("q268_anisotropy")(spark, dir).collect()
      .map(r => r.getInt(0) -> r).toMap
    assert(an.keySet === Set(0, 1, 2))
    assert(an.values.forall(r => !r.isNullAt(2) && !r.isNullAt(3)),
      "multi-vector labels keep real means")
    // all-identical corpus: every nearest distance is 0 → every point
    // excluded from the MLE → empty readout, never ln(0)
    val d = "/tmp/graft_edge_vectors_identical"
    import spark.implicits._
    val vec = Array.tabulate(8)(i => (i % 3).toFloat / 4f)
    (0L until 6L).map(i => (i, vec, 1))
      .toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    assert(SparkEntry.queries("q269_twonn")(spark, d).collect().isEmpty,
      "coincident corpora have no TwoNN estimate")
    // and the anisotropy of identical unit-direction vectors is exactly
    // 1 (mean pairwise dot = mean squared norm)
    val an1 = SparkEntry.queries("q268_anisotropy")(spark, d).collect()
    assert(an1.length === 1)
    assert(math.abs(an1.head.getDouble(4) - 1.0) < 1e-6,
      "identical vectors are maximally anisotropic")
    // a 2-point label has no second neighbor → excluded from TwoNN
    val d2 = "/tmp/graft_edge_vectors_pair"
    Seq((1L, Array.tabulate(8)(_.toFloat / 10f), 3),
      (2L, Array.tabulate(8)(i => (i + 1).toFloat / 10f), 3))
      .toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$d2/embeddings.parquet")
    assert(SparkEntry.queries("q269_twonn")(spark, d2).collect().isEmpty,
      "a pair has r2 undefined — no estimate")
  }

  test("q270/q272 degenerate: a singleton corpus has no neighbor; a " +
      "single-class corpus gets weight exactly 1") {
    import spark.implicits._
    val d = "/tmp/graft_edge_vectors_singleton"
    Seq((1L, Array.tabulate(8)(_.toFloat / 10f), 0))
      .toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    assert(SparkEntry.queries("q270_label_noise")(spark, d).collect()
      .isEmpty, "a singleton has no 1-NN verdict")
    val cb = SparkEntry.queries("q272_class_balanced")(spark, d).collect()
    assert(cb.length === 1)
    assert(math.abs(cb.head.getDouble(3) - 1.0) < 1e-9,
      "one class normalizes to weight exactly 1")
    // perfectly separated two-label corpus → zero noise on both labels
    val d2 = "/tmp/graft_edge_vectors_separated"
    val rows = (0L until 4L).map(i =>
      (i, Array.tabulate(8)(j => (j + i).toFloat / 100f), 0)) ++
      (10L until 14L).map(i =>
        (i, Array.tabulate(8)(j => 5f + (j + i).toFloat / 100f), 1))
    rows.toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$d2/embeddings.parquet")
    val ln = SparkEntry.queries("q270_label_noise")(spark, d2).collect()
    assert(ln.length === 2)
    assert(ln.forall(_.getLong(2) === 0L),
      "separated clusters must read zero label noise")
  }

  test("q300 degenerate: a rank-1 corpus reads PR = 1; an all-constant " +
      "corpus (zero covariance) NULLs PR") {
    import spark.implicits._
    // rank-1: every vector a multiple of ONE direction → the spectrum
    // is (lambda, 0, ..., 0) → PR = lambda^2/lambda^2 = 1
    val d = "/tmp/graft_edge_vectors_rank1"
    // multipliers 0.1..0.6 keep the trace inside the stated unit-norm
    // envelope (trace <= 2) while the spectrum stays rank 1
    val base = Array.tabulate(8)(i => (i + 1).toFloat / 10f)
    (1L to 6L).map(m => (m, base.map(x => x * m / 10f), 0))
      .toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    val pr = SparkEntry.queries("q300_participation_ratio")(spark, d)
      .collect()
    assert(pr.length === 1 && pr.head.getLong(0) === 8L)
    assert(math.abs(pr.head.getDouble(3) - 1.0) < 1e-3,
      s"rank-1 spectrum must read PR = 1, got ${pr.head.getDouble(3)}")
    // constant corpus: covariance identically 0 → fro9 = 0 → NULL PR
    val d2 = "/tmp/graft_edge_vectors_const"
    (1L to 4L).map(m => (m, base, 0))
      .toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$d2/embeddings.parquet")
    val p2 = SparkEntry.queries("q300_participation_ratio")(spark, d2)
      .collect()
    assert(p2.length === 1)
    assert(p2.head.isNullAt(3) && p2.head.isNullAt(4),
      "zero covariance mass must NULL PR, never 0/0")
  }

  test("q308 degenerate: the shared fixture's zero vector is counted " +
      "and floors min_norm at exactly 0") {
    val nd = SparkEntry.queries("q308_norm_drift")(spark, dir).collect()
      .map(r => r.getInt(0) -> r).toMap
    assert(nd.keySet === Set(0, 1, 2))
    // vec 99 (all zeros) carries label 0
    assert(nd(0).getLong(2) === 1L, "the zero vector is counted")
    assert(nd(0).getDouble(5) === 0.0, "min_norm floors at exactly 0")
    assert(nd(1).getLong(2) === 0L && nd(2).getLong(2) === 0L)
    for ((_, r) <- nd)
      assert(r.getDouble(5) <= r.getDouble(4) + 1e-9 &&
        r.getDouble(4) <= r.getDouble(6) + 1e-9, "min <= mean <= max")
  }

  test("q311 degenerate: a single-label corpus has no pair matrix; the " +
      "separated two-cluster fixture reads a large centroid gap") {
    assert(SparkEntry.queries("q311_centroid_distances")(
      spark, "/tmp/graft_edge_vectors_singleton").collect().isEmpty,
      "one label, no matrix")
    // the q270 separated fixture: per-dim centroid gap is 5 plus the
    // id-ramp's mean shift (11.5 − 1.5)/100 = 5.1 → dist = √8 · 5.1
    val cd = SparkEntry.queries("q311_centroid_distances")(
      spark, "/tmp/graft_edge_vectors_separated").collect()
    assert(cd.length === 1)
    assert(math.abs(cd.head.getDouble(4) - math.sqrt(8.0) * 5.1) < 1e-3,
      s"separated clusters read the planted gap: ${cd.head.getDouble(4)}")
  }

  test("q328 label separation: intra spread replays from brute-force " +
      "pairs; the separated fixture reads separation >> 1; a singleton " +
      "label NULLs its spread") {
    // brute-force intra mean squared distance on the shared corpus —
    // a different algorithm (explicit pairs) than the engine's
    // pair-free n·m2 − ΣS² identity
    val raw = Tables.embeddings(spark, sf)
      .select(col("label"), col("embedding")).collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1)
        .map(v => math.round(v.toDouble * 1000)).toArray))
    val got = SparkEntry.queries("q328_label_separation")(spark, sf)
      .collect().map(r => r.getInt(0) -> r).toMap
    for ((lbl, g) <- raw.groupBy(_._1) if g.length > 1) {
      var tot = 0.0; var cnt = 0L
      for (i <- g.indices; j <- g.indices if i != j) {
        var d2 = 0.0; var k = 0
        while (k < g(i)._2.length) {
          val t = (g(i)._2(k) - g(j)._2(k)).toDouble; d2 += t * t; k += 1
        }
        tot += d2; cnt += 1
      }
      val msd = tot / cnt / 1e6
      val engine = got(lbl).getDouble(2)
      assert(math.abs(engine - msd) < 1e-4,
        s"label $lbl intra: engine $engine vs brute $msd")
    }
    // separated fixture: two tight clusters 5.1 apart per dim →
    // separation = centroid d² / intra spread is LARGE (> 100)
    val sep = SparkEntry.queries("q328_label_separation")(
      spark, "/tmp/graft_edge_vectors_separated").collect()
    assert(sep.length === 2)
    for (r <- sep) {
      assert(r.getDouble(4) > 100 * r.getDouble(2),
        s"planted gap must dominate intra spread: $r")
      assert(r.getDouble(5) > 100, s"separation ratio: ${r.getDouble(5)}")
    }
    // singleton-label corpus: ONE label → no pair matrix → no rows
    assert(SparkEntry.queries("q328_label_separation")(
      spark, "/tmp/graft_edge_vectors_singleton").collect().isEmpty,
      "one label has no nearest-other row")
  }
}
