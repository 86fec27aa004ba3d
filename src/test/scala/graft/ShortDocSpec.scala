package graft

import graft.operators.Fan
import org.apache.spark.sql.functions._

/** Degenerate-input regression: every text operator must survive documents
  * shorter than its own window (<3 tokens for word-3-gram shingles, <5
  * chars for char-5-grams) with empty-set/NULL semantics instead of
  * crashing. Spark's sequence(1, n) DESCENDS for n < 1 and element_at(_, 0)
  * / substr(_, 0, …) then throw or fabricate values — the driver fixtures
  * never contain such docs, so only this suite exercises the guards.
  */
class ShortDocSpec extends SparkSpec {

  private lazy val dir: String = {
    val d = "/tmp/graft_shortdocs"
    import spark.implicits._
    Seq(
      (1L, "ab", "en", "unit", 2L),                       // < one 5-gram
      (2L, "hello world", "en", "unit", 11L),             // < one 3-shingle
      (3L, "the quick brown fox jumps over the lazy dog", "en", "unit", 43L),
      (4L, "the quick brown fox jumps over the lazy dog", "en", "unit", 43L),
      (5L, "", "en", "unit", 0L),                         // EMPTY text
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/documents.parquet")
    d
  }

  private val docQueries =
    Seq("q31_exact_dedup", "q32_minhash_neardup", "q33_simhash_fingerprint",
      "q37_text_stats", "q38_langid", "q51_ngram_jaccard", "q52_tfidf",
      "q67_seq_packing", "q68_repetition", "q69_domain_mixture",
      "q70_stratified_sample", "q74_dedup_clusters", "q82_pii_redact",
      "q83_doc_chunks", "q86_dup_ngrams", "q87_token_entropy", "q101_bm25",
      "q112_weighted_sample", "q117_dedup_survivors", "q131_lm_perplexity",
      "q136_boilerplate_strip", "q172_dsir_weights", "q173_bpe_encode",
      "q176_quantile_normalize", "q188_nb_classifier", "q199_js_divergence",
      "q202_rake_keywords")

  for (name <- docQueries) {
    test(s"$name survives sub-window documents") {
      val rows = SparkEntry.queries(name)(spark, dir).collect()
      assert(rows.nonEmpty, s"$name returned no rows")
    }
  }

  test("q116 skips sub-50-char docs empty-handed and aligns at any offset") {
    // every ShortDoc text is < 50 chars -> zero anchor rows, no crash
    assert(SparkEntry.queries("q116_dup_passages")(spark, dir)
      .collect().isEmpty)
    // offset-invariance: the same 300-char passage at positions differing
    // by 4 (misaligned mod any fixed stride) must still share anchors —
    // content-defined anchoring is the whole point
    val d2 = "/tmp/graft_passagedocs"
    import spark.implicits._
    val passage = (1 to 60).map(i => s"tok$i").mkString(" ")
    Seq(
      (1L, passage + " unique tail one", "en", "unit", 0L),
      (2L, "xyz " + passage + " other ending", "en", "unit", 0L),
      (3L, "completely different text with no repeats at all", "en", "unit", 0L),
    ).map { case (id, t, l, s0, _) => (id, t, l, s0, t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$d2/documents.parquet")
    val res = SparkEntry.queries("q116_dup_passages")(spark, d2)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(res.getOrElse(1L, 0L) > 0, s"doc 1 found no dup anchors: $res")
    assert(res.getOrElse(2L, 0L) > 0, s"doc 2 found no dup anchors: $res")
    assert(res.getOrElse(3L, 0L) === 0L, s"doc 3 fabricated dups: $res")
  }

  test("q194 Heaps fit: all-unique corpus pins β = 1, K = 1; " +
      "closed vocabulary pins β ≈ 0") {
    import spark.implicits._
    // every token globally unique → V_d = T_d exactly → ln V = ln T at
    // every prefix point → the OLS line is y = x: β = 1, K = 1
    val uniq = (1L to 20L).map(d =>
      (d, (1 to 10).map(j => s"u${d}_$j").mkString(" "), "en", "unit", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val d1 = "/tmp/graft_heaps_uniq"
    uniq.coalesce(1).write.mode("overwrite").parquet(s"$d1/documents.parquet")
    val r1 = SparkEntry.queries("q194_heaps_law")(spark, d1).collect().head
    assert(r1.getLong(0) === 20L && r1.getLong(1) === 200L
      && r1.getLong(2) === 200L)
    assert(r1.getDouble(3) === 1.0, s"β must be exactly 1: $r1")
    assert(r1.getDouble(4) === 1.0, s"K must be exactly 1: $r1")
    // one shared token repeated → V pinned at 1 after doc 1 → β ≈ 0
    val closed = (1L to 20L).map(d =>
      (d, Seq.fill(10)("same").mkString(" "), "en", "unit", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val d2 = "/tmp/graft_heaps_closed"
    closed.coalesce(1).write.mode("overwrite").parquet(s"$d2/documents.parquet")
    val r2 = SparkEntry.queries("q194_heaps_law")(spark, d2).collect().head
    assert(r2.getLong(2) === 1L && math.abs(r2.getDouble(3)) < 1e-9,
      s"closed vocab must flatten: $r2")
    // the shared ShortDoc fixture (incl. the empty doc) must not crash
    assert(SparkEntry.queries("q194_heaps_law")(spark, dir)
      .collect().length === 1)
  }

  test("q195 token budget: strict greedy — the crossing doc AND later " +
      "fitting docs are excluded") {
    import spark.implicits._
    // qualities: d1 = 1.0, d2 = 0.75, d3 = 0.33, padding 1/11; total
    // tokens 102 → budget 10. Greedy keeps d1 (cum 7), then d2 crosses
    // (cum 11 > 10) and is excluded — and so is d3, whose 3 tokens WOULD
    // fit after d1: prefix selection, not knapsack back-fill
    val docs = Seq(
      (1L, "a1 a2 a3 a4 a5 a6 a7", "en", "unit", 0L),
      (2L, "x x b1 b2", "en", "unit", 0L),
      (3L, "c c c", "en", "unit", 0L),
    ) ++ (4L to 11L).map(i =>
      (i, Seq.fill(11)("pad").mkString(" "), "en", "unit", 0L))
    val d = "/tmp/graft_token_budget"
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/documents.parquet")
    val got = SparkEntry.queries("q195_token_budget")(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3), r.getLong(4)))
    assert(got.toSeq === Seq((1L, 7L, 7L, 10L)), got.mkString(","))
  }

  test("q187/q191 skip sub-window docs empty-handed") {
    // every ShortDoc text is far below the 50/25-token windows → zero
    // rows, no descending-sequence crash on n - 49 < 1 (the filter guards)
    assert(SparkEntry.queries("q187_substring_dup")(spark, dir)
      .collect().isEmpty)
    assert(SparkEntry.queries("q191_substring_decontaminate")(spark, dir)
      .collect().isEmpty)
  }

  test("short docs produce empty gram sets, not fabricated pairs") {
    // docs 3 and 4 are identical -> the only near-dup pair in every family;
    // docs 1 and 2 must pair with nothing (DuckDB semantics)
    for (name <- Seq("q32_minhash_neardup", "q51_ngram_jaccard")) {
      val pairs = SparkEntry.queries(name)(spark, dir)
        .select(col("doc_a"), col("doc_b")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(pairs === Seq((3L, 4L)), s"$name pairs: $pairs")
    }
  }

  test("identical-doc corpus: LSH buckets go hot but pairs stay exact") {
    // Pathological corpus: 30 byte-identical docs land in ONE bucket per
    // band. The true answer is all C(30,2) pairs at jaccard 1.0 — output
    // is inherently quadratic, which is why the 100 TB pipeline runs exact
    // dedup (q31) BEFORE LSH (Dedup.scala header note); this test pins the
    // engine to completing the hot bucket and emitting exactly those pairs.
    val d = "/tmp/graft_identdocs"
    import spark.implicits._
    val same = "the quick brown fox jumps over the lazy dog again and again"
    ((1L to 30L).map(i => (i, same, "en", "unit", same.length.toLong)) :+
      (98L, "completely unrelated text about parquet row groups", "en", "unit", 50L) :+
      (99L, "yet another unique document mentioning catalyst rules", "en", "unit", 53L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/documents.parquet")
    for (name <- Seq("q32_minhash_neardup", "q51_ngram_jaccard")) {
      val rows = SparkEntry.queries(name)(spark, d)
        .select(col("doc_a"), col("doc_b"), col("jaccard")).collect()
      assert(rows.length === 30 * 29 / 2, s"$name pair count")
      assert(rows.forall(_.getDouble(2) === 1.0), s"$name jaccard != 1.0")
      assert(rows.forall(r => r.getLong(0) < r.getLong(1) && r.getLong(1) <= 30L),
        s"$name paired a unique doc")
    }
  }

  test("q66 handles an empty eval set and flags a duplicated eval doc") {
    // `dir`'s ids (1-4) contain no doc_id % 7 == 0 → the benchmark side is
    // EMPTY: decontamination must return zero flagged docs, not crash on
    // the empty broadcast
    assert(SparkEntry.queries("q66_decontaminate")(spark, dir).collect().isEmpty)
    // a corpus where doc 7 IS the benchmark and doc 8 duplicates it: doc 8
    // must be flagged with every one of its distinct 5-grams overlapping;
    // sub-window docs (id 9) and unrelated docs (id 10) stay clean
    val d = "/tmp/graft_contam"
    import spark.implicits._
    val shared = "alpha beta gamma delta epsilon zeta eta theta"
    Seq(
      (7L, shared, "en", "unit", shared.length.toLong),
      (8L, shared, "en", "unit", shared.length.toLong),
      (9L, "tiny doc", "en", "unit", 8L),
      (10L, "completely different words nothing shared here at all", "en", "unit", 53L),
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/documents.parquet")
    val flagged = SparkEntry.queries("q66_decontaminate")(spark, d).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(flagged.keySet === Set(8L), s"flagged: $flagged")
    assert(flagged(8L) === 4L, "8 tokens -> 4 distinct 5-grams, all shared")
  }

  test("q74 merges chained blocking keys into one component") {
    // a~b share the 50-char PREFIX key, b~c share the SUFFIX key, a and c
    // share nothing directly — only transitive closure puts all three in
    // one component, so this pins the label propagation, not just the join
    val d = "/tmp/graft_cc_chain"
    import spark.implicits._
    val (x, y, z, w) = ("x" * 50, "y" * 50, "z" * 50, "w" * 50)
    Seq(
      (1L, x + y, "en", "unit", 100L),
      (2L, x + z, "en", "unit", 100L),
      (3L, w + z, "en", "unit", 100L),
      (4L, "unrelated island document", "en", "unit", 25L),
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/documents.parquet")
    val rows = SparkEntry.queries("q74_dedup_clusters")(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2), r.getLong(3)))
    assert(rows.toSeq === Seq(
      (1L, 1L, true, 3L), (2L, 1L, false, 3L), (3L, 1L, false, 3L)))
  }

  test("q86: identical docs share all grams; sub-window docs are excluded") {
    val rows = SparkEntry.queries("q86_dup_ngrams")(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    // docs 1-2 are below the 8-token window → no gram rows at all;
    // docs 3-4 are byte-identical → every gram shared
    assert(rows.keySet === Set(3L, 4L), s"rows: $rows")
    assert(rows(3L) === 1.0 && rows(4L) === 1.0)
  }

  test("q87: all-distinct tokens give exactly ln(n) entropy") {
    val rows = SparkEntry.queries("q87_token_entropy")(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    // "hello world": two distinct tokens, c=1 each → Σc·ln(c)=0,
    // H = ln(2) through the float-cast house rule
    val expected = BigDecimal(math.log(2.0).toFloat.toDouble)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(rows(2L) === expected)
  }

  test("q136 strips the shared span and reassembles the remainder exactly") {
    val d = "/tmp/graft_boiler_docs"
    import spark.implicits._
    val span = (1 to 10).map(i => s"b$i").mkString(" ") // one full segment
    Seq(
      // span occupies tokens 1-10 (segment 0) in three docs → boilerplate
      (1L, s"$span u1 u2 u3", "en", "unit", 0L),
      (2L, s"$span v1 v2", "en", "unit", 0L),
      (3L, s"$span w1", "en", "unit", 0L),
      (4L, "unique tail only", "en", "unit", 0L),
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/documents.parquet")
    val got = SparkEntry.queries("q136_boilerplate_strip")(spark, d)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    def md5(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // doc 1: segments [span, "u1 u2 u3"]; the span is dropped, the tail
    // segment survives verbatim
    assert(got(1L) === ((2L, 1L, md5("u1 u2 u3"))))
    assert(got(2L) === ((2L, 1L, md5("v1 v2"))))
    assert(got(3L) === ((2L, 1L, md5("w1"))))
    // doc 4: single sub-threshold segment, untouched
    assert(got(4L) === ((1L, 0L, md5("unique tail only"))))
    // FULLY-boilerplate docs: every segment stripped → cleaned_md5 is
    // NULL on both engines (the round-11 empty-list asymmetry, pinned)
    val d3 = "/tmp/graft_boiler_full"
    Seq(
      (1L, span, "en", "unit", 0L),
      (2L, span, "en", "unit", 0L),
      (3L, span, "en", "unit", 0L),
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$d3/documents.parquet")
    val full = SparkEntry.queries("q136_boilerplate_strip")(spark, d3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.isNullAt(3)))).toMap
    assert(full.values.forall(_ == ((1L, 1L, true))), full.toString)
  }

  test("q146: below the count floor is empty, not a crash; PMI is exact") {
    // the ShortDoc fixture has no pair with count ≥ 20 → empty result
    assert(SparkEntry.queries("q146_pmi_collocations")(spark, dir)
      .collect().isEmpty)
    // crafted corpus: 30 copies of "alpha beta" → c12=30, N=60, c1=c2=30,
    // npairs=30 → PMI = ln(30·60² / (30·30·30)) = ln(4)
    val d = "/tmp/graft_pmi_docs"
    import spark.implicits._
    (1L to 30L).map(i => (i, "alpha beta", "en", "unit", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/documents.parquet")
    val rows = SparkEntry.queries("q146_pmi_collocations")(spark, d).collect()
    assert(rows.length === 1)
    val expected = BigDecimal(math.log(4.0).toFloat.toDouble)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(rows.head.getString(0) === "alpha" &&
      rows.head.getString(1) === "beta" &&
      rows.head.getDouble(5) === expected)
  }

  test("q131 excludes bigram-less docs and scores twins identically") {
    val rows = SparkEntry.queries("q131_lm_perplexity")(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    // doc 1 ("ab") and doc 5 ("") have a single whitespace token — no
    // bigram, excluded by construction, not a zero-division or a crash
    assert(!rows.contains(1L) && !rows.contains(5L))
    // identical docs 3 and 4 see the same global model → identical score
    assert(rows(3L) === rows(4L))
    // duplicated natural text (3,4) must score BELOW the corpus-unique
    // bigrams of doc 2 — the quality signal pointing the right way
    assert(rows(3L) < rows(2L))
  }

  test("q37 fingerprint is NULL for docs below the shingle window") {
    val fp = SparkEntry.queries("q37_text_stats")(spark, dir)
      .select(col("doc_id"), col("fingerprint")).collect()
      .map(r => r.getLong(0) -> r.isNullAt(1)).toMap
    assert(fp(2L), "2-token doc must have NULL fingerprint")
    assert(!fp(3L), "9-token doc must have a fingerprint")
  }

  test("q172: bigram-less docs are excluded; identical docs score equal " +
      "llr; target-slice members are not auto-kept") {
    val rows = SparkEntry.queries("q172_dsir_weights")(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    // "ab" and "" have no bigram — excluded like q131, not a zero division
    assert(!rows.contains(1L) && !rows.contains(5L))
    // identical docs see identical models → identical ratio
    assert(rows(3L) === rows(4L))
  }

  test("q173: docs with no clean word drop out; the empty-merge identity " +
      "holds for sub-merge corpora") {
    val got = SparkEntry.queries("q173_bpe_encode")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val byId = got.map(r => r._1 -> r).toMap
    // doc 5 ("") has no [a-z]{2,} word → absent, not a zero-division row
    assert(!byId.contains(5L))
    // "ab" is one clean 2-char word; whatever the learned merges, token
    // bounds hold: n_words ≤ n_tokens ≤ n_chars
    for ((id, nw, nc, nt) <- got) {
      assert(nw <= nt && nt <= nc, s"doc $id bounds ($nw, $nt, $nc)")
    }
    assert(byId(3L) === byId(4L).copy(_1 = 3L), "identical docs encode equal")
  }

  test("q175: the first doc of a duplicate pair owns the shared grams") {
    val rows = SparkEntry.queries("q175_ngram_novelty")(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getDouble(3)))).toMap
    // only docs 3 and 4 (9 tokens) clear the 8-gram window, and they are
    // identical: doc 3 introduced both grams, doc 4 none
    assert(rows.keySet === Set(3L, 4L))
    assert(rows(3L)._2 === 1.0 && rows(4L)._2 === 0.0)
    assert(rows(3L)._1 === 2L && rows(4L)._1 === 0L)
  }

  test("q199 JSD replays at full precision, is bounded by ln 2, and a " +
      "single-source corpus scores 0") {
    val got = SparkEntry.queries("q199_js_divergence")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3)))
    val toks = Tables.documents(spark, sf)
      .filter(col("text").isNotNull && col("source").isNotNull)
      .select(col("source"), col("text")).collect()
      .flatMap(r => r.getString(1).split(" ", -1).map(r.getString(0) -> _))
    val corpus = toks.groupBy(_._2).map { case (t, v) => t -> v.length }
    val cb = toks.length.toDouble
    for ((src, nTok, jsdN, jsdB) <- got) {
      val mine = toks.filter(_._1 == src).groupBy(_._2)
        .map { case (t, v) => t -> v.length }
      val sa = mine.values.sum.toDouble
      assert(nTok === sa.toLong, s"$src token count")
      // full-precision math.log replay (engine used float-cast ln).
      // .toSeq FIRST: corpus.keys is a runtime Set and mapping it to
      // per-token Doubles would COLLAPSE equal terms (§5.7's Map.map
      // pair-collapse, the set flavor)
      val jsd = corpus.keys.toSeq.map { t =>
        val p = mine.getOrElse(t, 0) / sa
        val q = corpus(t) / cb
        val m = 0.5 * (p + q)
        (if (p > 0) 0.5 * p * math.log(p / m) else 0.0) +
          0.5 * q * math.log(q / m)
      }.sum
      assert(math.abs(jsdN - jsd) < 1e-5, s"$src jsd $jsdN vs $jsd")
      assert(jsdN >= -1e-9 && jsdN <= math.log(2) + 1e-9, s"$src bounds")
      assert(math.abs(jsdB - jsdN / math.log(2)) < 1e-5, s"$src bits")
    }
    // a corpus with ONE source: P = Q exactly → JSD exactly 0
    val d1 = "/tmp/graft_jsd_single"
    import spark.implicits._
    Seq((1L, "x y z", "en", "only", 5L), (2L, "x y", "en", "only", 3L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$d1/documents.parquet")
    val solo = SparkEntry.queries("q199_js_divergence")(spark, d1).collect()
    assert(solo.length === 1 && solo.head.getDouble(2) === 0.0)
  }

  test("q202 RAKE replays from a driver-side candidate/degree/frequency " +
      "computation") {
    val got = SparkEntry.queries("q202_rake_keywords")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val texts = Tables.documents(spark, sf).filter(col("text").isNotNull)
      .select(col("text")).collect().map(_.getString(0))
    val stop = Set("a", "the")
    // candidates: maximal non-stop runs, length 1..4, across all docs
    val cands = texts.flatMap { t =>
      val runs = scala.collection.mutable.ArrayBuffer[Vector[String]]()
      var cur = Vector.empty[String]
      for (w <- t.split(" ", -1)) {
        if (stop(w)) { if (cur.nonEmpty) runs += cur; cur = Vector.empty }
        else cur :+= w
      }
      if (cur.nonEmpty) runs += cur
      runs.filter(_.length <= 4)
    }
    val freq = cands.flatten.groupBy(identity).map { case (w, v) =>
      w -> v.length.toLong }
    val deg = cands.flatMap(c => c.map(_ -> c.length.toLong))
      .groupBy(_._1).map { case (w, v) => w -> v.map(_._2).sum }
    val scoreOf = (c: Vector[String]) =>
      c.map(w => deg(w).toDouble / freq(w)).sum
    val expect = cands.groupBy(_.mkString(" ")).map { case (p, v) =>
      p -> ((v.length.toLong, scoreOf(v.head))) }
    // the engine returns the top 30 by (score desc, phrase) — replay that
    val order = expect.toSeq
      .sortBy { case (p, (_, sc)) => (-math.round(sc * 1e6), p) }.take(30)
    assert(got.length === order.length)
    for (((p, occ, sc), (wp, (wocc, wsc))) <- got.zip(order)) {
      assert(p === wp, s"phrase order: $p vs $wp")
      assert(occ === wocc, s"$p occurrences")
      assert(math.abs(sc - wsc) < 1e-5, s"$p score $sc vs $wsc")
    }
  }
  test("q213/q215 degenerate docs: phrase absent → empty; single-class " +
      "source → zero impurity with the (score, v) tie-break") {
    assert(SparkEntry.queries("q213_phrase_search")(spark, dir).collect()
      .isEmpty, "no 'order fast' phrase in the fixture")
    val st = SparkEntry.queries("q215_gini_stump")(spark, dir).collect()
    assert(st.length === 1)
    val r = st.head
    assert(r.getString(0) === "unit")
    // all docs are lang=en → parent and every split impurity are 0;
    // the deterministic argmin tie-break picks the smallest threshold
    assert(r.getLong(2) === r.getLong(1), "pos == n (single class)")
    assert(r.getLong(3) === 0L, "tie-break → smallest n_chars value")
    assert(r.getDouble(6) === 0.0 && r.getDouble(7) === 0.0)
  }

  test("q282/q283/q284 degenerate: sub-25-token docs drop from pooled " +
      "MATTR; probe-free corpora still rank by smoothing; one source " +
      "has no overlap pairs") {
    // every shared-fixture doc is < 25 tokens → NO window anywhere →
    // the pooled figure has no denominator → the source is absent
    // (the ws inner join drops it), never a 0/0
    assert(SparkEntry.queries("q282_mattr")(spark, dir).collect()
      .isEmpty, "window-less corpora have no pooled MATTR")
    // none of the probe terms occur → cf = 0 NULLs every term via the
    // explicit both-engine guard (r15; formerly the bare ln(0) NULL on
    // the Spark side only), so every score is NULL and ranking falls
    // entirely to the doc_id tiebreak — docs 3 and 4 (identical text)
    // must rank adjacently by id
    val ql = SparkEntry.queries("q283_query_likelihood")(spark, dir)
      .collect().map(r => (r.getInt(0), r.getLong(1)))
    assert(ql.nonEmpty && ql.length <= 10)
    val pair = ql.filter(p => p._2 == 3L || p._2 == 4L).sortBy(_._1)
    assert(pair.map(_._2).toSeq === Seq(3L, 4L),
      "identical docs tie-break by doc_id")
    // a single-source corpus has no pair rows
    assert(SparkEntry.queries("q284_vocab_overlap")(spark, dir).collect()
      .isEmpty, "one source, no matrix")
  }

  test("q294/q295 degenerate: hand-computable Yule spectrum on the " +
      "shared fixture; an all-distinct source reads K = 0 with NULL " +
      "repeat rate at N = 1; sub-support corpora have no burstiness") {
    // shared fixture tokens: ab(1) hello(1) world(1) the(4) quick(2)
    // brown(2) fox(2) jumps(2) over(2) lazy(2) dog(2) -> N = 21,
    // S2 = 47 -> K = 1e4*26/441, R = 26/(21*20)
    val yk = SparkEntry.queries("q294_yule_k")(spark, dir).collect()
    assert(yk.length === 1)
    assert(yk.head.getLong(1) === 11L && yk.head.getLong(2) === 21L)
    assert(math.abs(yk.head.getDouble(3) - 10000.0 * 26 / 441) < 1e-4)
    assert(math.abs(yk.head.getDouble(4) - 26.0 / 420) < 1e-6)
    // a one-token source: N = 1, S2 = 1 -> K exactly 0, R undefined
    val d1 = "/tmp/graft_shortdocs_onetok"
    import spark.implicits._
    Seq((1L, "solo", "en", "one", 4L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$d1/documents.parquet")
    val y1 = SparkEntry.queries("q294_yule_k")(spark, d1).collect()
    assert(y1.length === 1 && y1.head.getDouble(3) === 0.0)
    assert(y1.head.isNullAt(4), "N = 1 has no two-draw repeat rate")
    // no token reaches the tf >= 30 support line on either fixture
    assert(SparkEntry.queries("q295_token_burstiness")(spark, dir)
      .collect().isEmpty, "sub-support corpora have no burstiness rows")
  }

  test("q305 degenerate: the shared fixture's spectrum is hand-" +
      "computable (one duplicated pair among singletons) and a Scala " +
      "prefix-grouping replay agrees without touching the hash") {
    // docs 3 and 4 are identical → one size-2 cluster; docs 1, 2, 5 are
    // singletons → spectrum {1: 3, 2: 1}, 5 docs, 1 redundant
    val sp = SparkEntry.queries("q305_dup_cluster_spectrum")(spark, dir)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(4)))).toMap
    assert(sp.keySet === Set(1L, 2L))
    assert(sp(1L) === ((3L, 3L, 0L)) && sp(2L) === ((1L, 2L, 1L)))
    // structurally different replay: group by the RAW lowercase prefix
    // (no sha256) — same clustering unless the hash collides
    val docs = Fan.fan(Tables.documents(spark, dir))
      .select(col("text")).collect().map(_.getString(0))
    val replay = docs.groupBy(t =>
        Option(t).map(_.toLowerCase.take(50)).orNull)
      .values.map(_.length.toLong).groupBy(identity)
      .map { case (sz, g) => sz -> g.size.toLong }
    assert(replay === sp.map { case (k, v) => k -> v._1 })
  }

  test("q316 degenerate: the shared fixture's length percentiles are " +
      "hand-computable (sorted 0,2,11,43,43)") {
    val lp = SparkEntry.queries("q316_doc_length_percentiles")(
      spark, dir).collect()
    assert(lp.length === 1 && lp.head.getLong(1) === 5L)
    // k50 = ceil(2.5) = 3 → 11; k95 = ceil(4.75) = 5 → 43
    assert(lp.head.getLong(2) === 11L && lp.head.getLong(3) === 43L)
  }

  test("q318/q319 chunk grain: the spectrum replays from a Scala " +
      "chunker; near-dup pairs stay at REP grain (the flood is never " +
      "expanded) with exact provenance counts and jaccard") {
    import spark.implicits._
    val d = "/tmp/graft_chunkdedup"
    // every text ≤ 200 chars → exactly ONE chunk per doc (chunk ≡ text),
    // so chunk-grain semantics are hand-controllable:
    //  - docs 1..3: identical text T (an exact-dup flood of 3)
    //  - doc 4: T with ONLY the last word changed (40 2-char words →
    //    38 shingles, 36 shared / 40 union → J = 0.9 exactly — inside
    //    the banding certainty region at B=5, r=3)
    //  - doc 5: unrelated text (no near-dup)
    // texts stay ≤ 150 chars (the chunk STRIDE) so each doc is exactly
    // ONE chunk — chunk semantics are then hand-controllable
    val ws = (0 until 40).map(i =>
      s"${('a' + i / 26).toChar}${('a' + i % 26).toChar}")
    val tT = ws.mkString(" ")
    val tV = (ws.dropRight(1) :+ "zz").mkString(" ")
    require(tT.length <= 150 && tV.length <= 150)
    Seq(
      (1L, tT, "en", "s0", tT.length.toLong),
      (2L, tT, "en", "s0", tT.length.toLong),
      (3L, tT, "en", "s1", tT.length.toLong),
      (4L, tV, "en", "s1", tV.length.toLong),
      (5L, "completely different text body here", "en", "s1", 35L),
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/documents.parquet")

    // q319: ONE rep-grain pair — (rep of the 3-copy T cluster, doc 4's
    // variant) — never the 3 member pairs an expansion would emit
    val pairs = SparkEntry.queries("q319_chunk_neardup")(spark, d)
      .collect()
    assert(pairs.length === 1, s"rep grain means ONE pair: ${pairs.toSeq}")
    val p = pairs.head
    assert(p.getLong(0) === 1L && p.getLong(1) === 0L, "rep = min uid")
    assert(p.getLong(2) === 4L && p.getLong(3) === 0L)
    // driver-side jaccard of the two texts (different algorithm: Scala
    // Set intersection over word-3-grams)
    def grams(t: String): Set[String] =
      t.split(" ").sliding(3).map(_.mkString(" ")).toSet
    val (ga, gb) = (grams(tT), grams(tV))
    val jExact = ((2L * (ga & gb).size * 1000000L + (ga | gb).size) /
      (2L * (ga | gb).size)).toDouble / 1e6
    assert(p.getDouble(4) === jExact, s"jaccard ${p.getDouble(4)} vs $jExact")
    assert(jExact >= 0.9, "fixture must sit in the certainty region")
    // provenance: the T cluster has 3 copies across 3 docs; the variant 1
    assert(p.getLong(5) === 3L && p.getLong(6) === 3L)
    assert(p.getLong(7) === 1L && p.getLong(8) === 1L)

    // q318: per-source spectrum replays from a Scala chunk count —
    // s0 = {T, T} → one size-2 cluster; s1 = {T, V, other} → three
    // size-1 clusters
    val sp = SparkEntry.queries("q318_chunk_dup_spectrum")(spark, d)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(5)))
    assert(sp.toSeq === Seq(
      ("s0", 2L, 1L, 2L, 1L),
      ("s1", 1L, 3L, 3L, 0L)), sp.toSeq.toString)
  }

  test("q319 replay net on the shared fixture: every reported pair's " +
      "jaccard matches a Scala inverted-index brute force, and every " +
      "distinct-chunk pair with J >= 0.9 is reported (certainty region)") {
    // structurally different truth: chunk in Scala, dedup texts, build a
    // shingle inverted index, compute exact jaccard for every co-shingled
    // pair — no MinHash, no banding
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val chunks = docs.flatMap { case (id, t) =>
      (0 until math.max(t.length, 1) by 150).map { cs =>
        (id * 1048576L + cs / 150, t.slice(cs, cs + 200))
      }
    }.filter(_._2.nonEmpty)
    val reps = chunks.groupBy(_._2).map { case (t, g) =>
      (g.map(_._1).min, t)
    }.toSeq
    def grams(t: String): Set[String] = {
      val w = t.split(" ")
      if (w.length < 3) Set.empty
      else w.sliding(3).map(_.mkString(" ")).toSet
    }
    val gsets = reps.map { case (uid, t) => uid -> grams(t) }
      .filter(_._2.nonEmpty).toMap
    val inv = scala.collection.mutable.Map.empty[String,
      List[Long]].withDefaultValue(Nil)
    for ((uid, gs) <- gsets; g <- gs) inv(g) ::= uid
    val coPairs = inv.values.flatMap { us =>
      for (a <- us; b <- us if a < b) yield (a, b)
    }.toSet
    def j6(a: Long, b: Long): Double = {
      val (ga, gb) = (gsets(a), gsets(b))
      val ni = (ga & gb).size.toLong
      val nu = (ga | gb).size.toLong
      ((2L * ni * 1000000L + nu) / (2L * nu)).toDouble / 1e6
    }
    val got = SparkEntry.queries("q319_chunk_neardup")(spark, dir)
      .collect()
      .map(r => (r.getLong(0) * 1048576L + r.getLong(1),
        r.getLong(2) * 1048576L + r.getLong(3)) -> r.getDouble(4)).toMap
    for (((a, b), jv) <- got)
      assert(jv === j6(a, b), s"pair ($a,$b): engine $jv vs driver")
    for ((a, b) <- coPairs if j6(a, b) >= 0.9)
      assert(got.contains((a, b)),
        s"certainty-region pair ($a,$b) J=${j6(a, b)} missing")
  }

  test("q320/q321 chunk-composition readouts: hand-pinned on the " +
      "one-chunk fixture; q320 replays from a MessageDigest Scala " +
      "chunker on the shared corpus; a single-source corpus is empty") {
    // the q318/q319 fixture: s0 = {T, T}, s1 = {T, V, other}
    val d = "/tmp/graft_chunkdedup"
    val ov = SparkEntry.queries("q320_source_overlap")(spark, d).collect()
    assert(ov.length === 1)
    val o = ov.head
    assert(o.getString(0) === "s0" && o.getString(1) === "s1")
    assert(o.getLong(2) === 1L, "T is the one shared chunk")
    assert(o.getLong(3) === 1L && o.getLong(4) === 3L)
    assert(o.getDouble(5) === 1.0, "s0 is fully contained in s1")
    assert(o.getDouble(6) === 0.333333 && o.getDouble(7) === 0.333333)

    val bp = SparkEntry.queries("q321_boilerplate_chunks")(spark, d)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(3),
        r.getLong(4)))
    assert(bp.count(_._1 == "s0") === 1, "s0 has one distinct chunk")
    assert(bp.filter(_._1 == "s0").head === (("s0", 1L, 2L, 2L)),
      "the 2-copy 2-doc flood ranks first")
    assert(bp.count(_._1 == "s1") === 3)
    assert(bp.filter(_._1 == "s1").forall(t => t._3 == 1L && t._4 == 1L))

    // structurally different replay on the SHARED corpus: Scala chunker
    // + MessageDigest md5 + Set algebra (no Spark expressions at all)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("source"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    def md5hex(s: String): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    }
    val bySource = docs.filter(_._2.nonEmpty).flatMap { case (src, t) =>
      (0 until t.length by 150).map(cs => src -> md5hex(t.slice(cs, cs + 200)))
    }.groupBy(_._1).map { case (s0, g) => s0 -> g.map(_._2).toSet }
    val expected = (for {
      (sa, ha) <- bySource; (sb, hb) <- bySource if sa < sb
      inter = (ha & hb).size if inter > 0
    } yield (sa, sb, inter.toLong)).toSet
    val got = SparkEntry.queries("q320_source_overlap")(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .toSet
    assert(got === expected, s"engine $got vs driver $expected")
    // the shared fixture is single-source → the matrix must be EMPTY
    // (zero-overlap/absent-pair semantics pin: no dense zero grid)
    assert(expected.isEmpty && got.isEmpty,
      "a single-source corpus has no source pairs")
  }

  test("q329 chunk novelty: hand-pinned curves on the one-chunk " +
      "fixture; replays from a MessageDigest Scala chunker with " +
      "explicit ntile arithmetic on the shared corpus") {
    // the q318/q319 fixture: s0 docs {1,2} both text T → decile 1
    // contributes the ONE distinct chunk, decile 2 contributes nothing;
    // s1 docs {3,4,5} each bring a new chunk → novelty 1/1/1
    val d = "/tmp/graft_chunkdedup"
    val nv = SparkEntry.queries("q329_chunk_novelty")(spark, d).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(3),
        r.getDouble(5)))
    assert(nv.filter(_._1 == "s0").toSeq ===
      Seq(("s0", 1L, 1L, 1.0), ("s0", 2L, 0L, 1.0)),
      nv.filter(_._1 == "s0").toSeq.toString)
    assert(nv.filter(_._1 == "s1").map(_._3).toSeq === Seq(1L, 1L, 1L))
    assert(nv.filter(_._1 == "s1").map(_._4).toSeq ===
      Seq(0.333333, 0.666667, 1.0))

    // replay on the shared corpus: Scala chunker + explicit ntile
    // bucket arithmetic (first n%10 buckets get ⌈n/10⌉ docs)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("source"), col("doc_id"), col("text")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2)))
      .filter(t => t._1 != null && t._3.nonEmpty)
    def md5hex(s: String): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    }
    val chunks = docs.flatMap { case (src, id, t) =>
      (0 until t.length by 150).map(cs =>
        (src, id, md5hex(t.slice(cs, cs + 200))))
    }
    val got = SparkEntry.queries("q329_chunk_novelty")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    for ((src, g) <- chunks.groupBy(_._1)) {
      val ids = g.map(_._2).distinct.sorted
      val n = ids.length
      val k = math.min(10, n)
      val base = n / 10; val extra = n % 10
      val decOf = ids.zipWithIndex.map { case (id, i) =>
        // ntile(10): first `extra` buckets hold base+1 rows
        val dec =
          if (i < extra * (base + 1)) i / (base + 1) + 1
          else (i - extra * (base + 1)) / math.max(base, 1) + extra + 1
        id -> dec.toLong
      }.toMap
      val fdoc = g.groupBy(_._3).map(_._2.map(_._2).min)
      val newPer = fdoc.toSeq.groupBy(decOf).map { case (dc, xs) =>
        dc -> xs.length.toLong }
      var cum = 0L
      for (dc <- 1L to k.toLong) {
        val (nd, nc, cm) = got((src, dc))
        cum += newPer.getOrElse(dc, 0L)
        assert(nc === newPer.getOrElse(dc, 0L), s"$src d$dc new")
        assert(cm === cum, s"$src d$dc cum")
        assert(nd === ids.count(id => decOf(id) == dc).toLong)
      }
    }
  }

  test("q330 doc boilerplate share: hand-pinned edges on the one-chunk " +
      "fixture (all-boilerplate doc → 1.0 'drop', unique doc → 0.0 " +
      "'keep'); replays from a MessageDigest Scala chunker + strip-list " +
      "reconstruction on the shared corpus") {
    // the q318/q319 fixture: s0 = {T, T} (copies 2 ⇒ T is s0's strip
    // list) and s1 = {T, V, other} (all singletons ⇒ s1's strip list is
    // EMPTY — the copies ≥ 2 floor keeps a unique corpus unmarked)
    val d = "/tmp/graft_chunkdedup"
    val bp = SparkEntry.queries("q330_doc_boilerplate")(spark, d)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4), r.getString(5))))
      .toMap
    assert(bp(1L) === ((1L, 1L, 1.0, "drop")), bp(1L).toString)
    assert(bp(2L) === ((1L, 1L, 1.0, "drop")))
    for (id <- 3L to 5L)
      assert(bp(id) === ((1L, 0L, 0.0, "keep")), s"doc $id: ${bp(id)}")

    // structurally different replay on the SHARED corpus: Scala chunker
    // + MessageDigest md5 + per-source strip-list reconstruction
    def md5hex(s: String): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    }
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("source"), col("doc_id"), col("text")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2)))
      .filter(t => t._1 != null && t._3.nonEmpty)
    val chunks = docs.flatMap { case (src, id, t) =>
      (0 until t.length by 150).map(cs =>
        (src, id, md5hex(t.slice(cs, cs + 200))))
    }
    val strip = chunks.groupBy(c => (c._1, c._3)).map { case ((s0, h), g) =>
      (s0, h, g.length.toLong, g.map(_._2).distinct.length.toLong)
    }.toSeq.groupBy(_._1).flatMap { case (s0, cls) =>
      cls.sortBy(c => (-c._3, -c._4, c._2)).take(10)
        .filter(_._3 >= 2).map(c => (s0, c._2))
    }.toSet
    val got = SparkEntry.queries("q330_doc_boilerplate")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4), r.getString(5))))
      .toMap
    for ((id, g) <- chunks.groupBy(_._2)) {
      val n = g.length.toLong
      val b = g.count(c => strip.contains((c._1, c._3))).toLong
      val share = ((2L * b * 1000000L + n) / (2L * n)).toDouble / 1e6
      val verdict =
        if (5 * b >= 4 * n) "drop"
        else if (5 * b >= n) "strip" else "keep"
      assert(got(id) === ((n, b, share, verdict)),
        s"doc $id: engine ${got(id)} vs driver ($n,$b,$share,$verdict)")
    }
    assert(got.keySet === chunks.map(_._2).toSet)
  }

  test("q321/q330 strip-list ranking is a bounded per-partition top-k, " +
      "not a serialized per-source window: the rnk <= 10 rank-filter " +
      "must keep triggering InferWindowGroupLimit's two-phase " +
      "pre-truncation (Partial before the shuffle caps each map task " +
      "at 10 rows/source — the r18 ADVICE item)") {
    for (q <- Seq("q321_boilerplate_chunks", "q330_doc_boilerplate")) {
      val plan = SparkEntry.queries(q)(spark, dir)
        .queryExecution.executedPlan.toString
      assert(plan.contains("WindowGroupLimit"),
        s"$q lost the WindowGroupLimit — a filter-shape change broke " +
          "the rank-filter inference and the per-source window is " +
          s"corpus-proportional again:\n$plan")
    }
  }

  test("q314 degenerate: a single-source single-language corpus has " +
      "chi2 exactly 0 and NULL V (min margin df = 0)") {
    // the shared fixture: one source 'unit', one lang 'en' → both
    // margins are 1 → every cell O = R = C = N → chi2 = 0, V guarded
    val mx = SparkEntry.queries("q314_source_language_mix")(spark, dir)
      .collect()
    assert(mx.length === 1)
    assert(mx.head.getDouble(4) === 0.0, "degenerate chi2 is 0")
    assert(mx.head.isNullAt(5),
      "min(r-1, c-1) = 0 must NULL V, never NaN")
  }
}
