package graft

import graft.operators.Fan
import graft.queries.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The LSH identical-doc hot-bucket mitigation (exact-dup pre-collapse,
  * `Dedup.collapseByText` + algebraic pair re-expansion):
  *
  *  1. OUTPUT EQUALITY — the collapsed pipeline must emit exactly the pairs
  *     the naive all-docs pipeline emits, on a corpus that mixes duplicate
  *     groups with genuinely distinct near-dups. Signatures are pure
  *     functions of the text, so this is provable; the spec pins it
  *     executably (values included, not just the pair set).
  *  2. BOUNDED WORK — on an adversarial flood of ~1k identical documents
  *     the bucket self-join must see ONE row per distinct text, not 1k:
  *     candidate pairs at the bucket level stay bounded by the
  *     distinct-text count while the naive shape would generate
  *     k(k-1)/2 = 499,500 verified candidates.
  *  3. The flood's true OUTPUT (every identical pair, jaccard exactly 1.0)
  *     is still fully emitted — the mitigation bounds intermediate work,
  *     never recall.
  */
class LshFloodSpec extends SparkSpec {

  private def docs(rows: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  /** The pre-mitigation q32 shape: band every doc, self-join buckets,
    * verify every candidate — the baseline the collapsed pipeline must
    * match pair-for-pair and value-for-value. */
  private def naiveNearDups(d: DataFrame): DataFrame = {
    val dsh = Dedup.shingleRows(d)
    Dedup.verifyJaccard(Dedup.candidatePairs(Dedup.minhashBands(dsh)), dsh)
  }

  private val base = "alpha bravo charlie delta echo foxtrot golf hotel india juliett"

  test("collapsed pipeline equals the naive plan on a mixed corpus") {
    // 3 duplicate groups (sizes 4, 3, 2), a near-dup probe of group 1's
    // text, distinct singletons, and a too-short doc — every structural
    // case at once. Interleaved ids so rep selection is not positional.
    val corpus = docs(Seq(
      1L -> base, 7L -> base, 13L -> base, 20L -> base,
      2L -> s"$base kilo", 9L -> s"$base kilo", 15L -> s"$base kilo",
      3L -> "november oscar papa quebec romeo sierra tango uniform victor",
      11L -> "november oscar papa quebec romeo sierra tango uniform victor",
      4L -> s"$base lima", // near-dup of group 1, distinct text
      5L -> "whiskey xray yankee zulu one two three four five six",
      6L -> "short doc", // < 3 words: no shingles, must never pair
      8L -> "seven eight nine ten eleven twelve thirteen fourteen"))
    val got = Dedup.nearDups(corpus)
      .select(col("doc_a"), col("doc_b"), col("jaccard")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val want = naiveNearDups(corpus)
      .select(col("doc_a"), col("doc_b"), col("jaccard")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(want.nonEmpty, "fixture must produce pairs")
    // intra-group pairs exist and carry jaccard exactly 1.0
    assert(want.contains((1L, 7L, 1.0)) && want.contains((13L, 20L, 1.0)))
    assert(got === want,
      s"missing=${want -- got} phantom=${got -- want}")
  }

  test("a 1k identical-doc flood is bounded at the bucket join and fully paired") {
    val k = 1000
    val flood = docs(
      (1L to k.toLong).map(i => i -> base) :+ (5000L -> s"$base lima"))
    val (reps, members) = Dedup.collapseByText(flood)
    assert(reps.count() === 2, "one representative per distinct text")
    assert(members.count() === k + 1)
    // bounded work: bucket-level candidates over the collapsed corpus are
    // at most (distinct texts choose 2) = 1 — the naive shape's
    // k(k-1)/2 = 499,500 verified candidates never exist
    val bucketCand =
      Dedup.candidatePairs(Dedup.minhashBands(Dedup.shingleRows(reps))).count()
    assert(bucketCand <= 1, s"bucket join must be collapsed, saw $bucketCand")
    // recall intact: every identical pair is still emitted, j exactly 1.0
    val out = Dedup.nearDups(flood)
    val intra = out.filter(col("doc_b") <= k)
    assert(intra.count() === k.toLong * (k - 1) / 2)
    val j = intra.agg(min(col("jaccard")), max(col("jaccard"))).head
    assert(j.getDouble(0) === 1.0 && j.getDouble(1) === 1.0)
  }

  test("collapse equivalence holds on randomized duplicate-heavy corpora (property)", Slow) {
    // deterministic seeded property loop (the ExactSpec idiom): random
    // corpora engineered to hit every structural case at once — exact-dup
    // groups of random multiplicity, near-dups via append/substitute
    // mutations, sub-window docs, non-contiguous interleaved ids — and on
    // each the collapsed pipeline must equal the naive plan pair-for-pair
    // and VALUE-for-value. Generalizes the fixed mixed-corpus fixture.
    val rng = new scala.util.Random(1234)
    val vocab = Vector.tabulate(30)(i => s"w$i")
    for (round <- 1 to 4) {
      val templates = Vector.fill(6)(
        Vector.fill(8 + rng.nextInt(7))(vocab(rng.nextInt(vocab.size)))
          .mkString(" "))
      val texts = (0 until 80).map { _ =>
        val t = templates(rng.nextInt(templates.size))
        rng.nextInt(4) match {
          case 0 => t // exact duplicate of a template
          case 1 => s"$t ${vocab(rng.nextInt(vocab.size))}" // near-dup append
          case 2 => // near-dup substitution
            val ws = t.split(" ")
            ws.updated(rng.nextInt(ws.length),
              vocab(rng.nextInt(vocab.size))).mkString(" ")
          case _ if rng.nextInt(5) == 0 => "tiny doc" // sub-window
          case _ => Vector.fill(6 + rng.nextInt(5))(
            vocab(rng.nextInt(vocab.size))).mkString(" ")
        }
      }
      // non-contiguous, shuffled ids so rep selection is never positional
      val ids = rng.shuffle((1 to 500).toList).take(texts.size).map(_.toLong * 7)
      val corpus = docs(ids.zip(texts))
      def key(df: org.apache.spark.sql.DataFrame) =
        df.select(col("doc_a"), col("doc_b"), col("jaccard")).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val got = key(Dedup.nearDups(corpus))
      val want = key(naiveNearDups(corpus))
      assert(want.nonEmpty, s"round $round: degenerate fixture, no pairs")
      assert(got === want,
        s"round $round: missing=${want -- got} phantom=${got -- want}")
    }
  }

  test("q32 still matches its pre-refactor output shape on the fixture") {
    // the factored stages (shingleRows/minhashBands/verifyJaccard) must
    // reproduce the registered query bit for bit — jaccard included
    val viaQ = SparkEntry.queries("q32_minhash_neardup")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val viaHelper = Dedup.nearDups(
      Fan.fan(Tables.documents(spark, sf)).select(col("doc_id"), col("text")))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(viaQ === viaHelper)
  }
}
