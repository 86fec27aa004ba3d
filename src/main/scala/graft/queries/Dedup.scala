package graft.queries

import graft.{Q, Tables}
import graft.operators.{Fan, OrderedBins}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operator family over `documents` (the LLM-training-data
  * pipeline slice; SURVEY.md §2 [EXT], BASELINE.json north star).
  *
  * All hash primitives are md5/sha2 (bit-identical in Spark and DuckDB), so
  * every stage — including the MinHash signatures — is oracle-checkable.
  * Everything is built from codegen'd built-ins; the only shuffles are the
  * hash-group / bucket-join shuffles that are inherent to the algorithms.
  *
  * 100 TB notes per operator:
  *  - exact dedup: one hash-partition shuffle on the content hash; map-side
  *    partial aggregation keeps the exchange small.
  *  - MinHash LSH: candidates come ONLY from equi-joins on (band, signature)
  *    buckets — never an all-pairs product. Band count/rows-per-band (B=5,
  *    r=3) bound the false-positive mass; the final exact-Jaccard filter is
  *    computed per candidate pair only.
  *  - SimHash: embarrassingly parallel fingerprinting (no shuffle until the
  *    fingerprint group-count).
  *  - Hot-bucket mitigation (q32): a degenerate
  *    corpus — millions of IDENTICAL documents — would collapse into one
  *    LSH bucket and the bucket self-join would go quadratic. Salting
  *    cannot help (the true OUTPUT is quadratic: every pair really is a
  *    near-dup), so the IMPLEMENTED mitigation is [[collapseByText]]:
  *    exact duplicates are collapsed to one representative per distinct
  *    text BEFORE banding, pairs are expanded back algebraically after
  *    verification (intra-group j is exactly 1), and only the
  *    output-proportional expansion ever sees the duplication factor —
  *    LshFloodSpec pins both the bounded bucket work and the
  *    output-equality with the naive plan. q55's pmod-salt idiom remains
  *    the tool for skewed AGGREGATES (the minhash min() stages here are
  *    already salt-free map-side combines).
  *  - Why every candidate generator here is LSH and none is EXACT: an
  *    AllPairs/PPJoin prefix-filter join (word-bigram Jaccard ≥ 0.6,
  *    df-ordered prefixes of length n − ⌈τn⌉ + 1) was built, oracle-
  *    verified at both scales, and MEASURED-REJECTED: on this templated
  *    corpus the "rare" prefix bigrams still co-occur across hundreds of
  *    docs, so the provably-lossless prefix×prefix join emitted 7.0M
  *    candidates at sf0.1 (4.4M even at τ=0.8 — density, not the lemma,
  *    is the bottleneck) and benched 153 s against the whole suite's
  *    ~80 s. Exact similarity joins only pay off when similar pairs are
  *    RARE; on template-dense web-scale text the banded generators'
  *    recall trade is the viable one.
  */
object Dedup {

  def all: Seq[Q] = Seq(
    q31ExactDedup, q32MinhashNeardup, q33SimhashFingerprint, q51NgramJaccard,
    q74DedupClusters, q86DupNgrams, q96FuzzyLinkage, q116DupPassages,
    q117DedupSurvivors, q132PrefixJaccardJoin, q138HammingJoin,
    q141GoldenRecord, q145EditDistanceJoin, q170LshRecallEval,
    q175NgramNovelty, q185ContainmentJoin, q187SubstringDup,
    q191SubstringDecontaminate, q305DupClusterSpectrum,
    q318ChunkDupSpectrum, q319ChunkNeardup,
    q320SourceOverlap, q321BoilerplateChunks, q329ChunkNovelty,
    q330DocBoilerplate)

  /** Candidate pairs for fuzzy linkage from CONTENT-DERIVED multi-key
    * blocking (no positional fixture knowledge): normalize the name
    * (lowercase), take its DISCRIMINATIVE CORE — the concatenated digit
    * run when the name carries one (serial-numbered identifiers, the
    * common ER case), else the alphanumeric residue — and block on the
    * md5 of each PARITY CLASS of the core's positions (even-position
    * chars / odd-position chars; fixed-width codegen'd join keys).
    *
    * Recovery guarantee (FuzzyLinkageSpec): the two classes PARTITION the
    * core's positions, so a single SUBSTITUTION touches exactly one class
    * and the untouched class's key still matches — and an edit outside
    * the core (template punctuation/casing) leaves both keys equal. An
    * insert/delete shifts every later position's parity, so like any
    * blocking scheme coverage there is LSH-style, not certain.
    *
    * Parity interleaving (not prefix/suffix halves) is deliberate: serial
    * identifiers concentrate entropy in their TRAILING digits, so a
    * prefix-half key collapses to the constant leading-zero run — on
    * sf0.1's 1000 suppliers that one block is ~500k candidate pairs and
    * benched q96 at 3.84 s vs 0.89 s. Interleaving deals every other
    * digit to each key, so both inherit the tail's entropy: blocks stay
    * small wherever ANY alternating subsequence discriminates.
    */
  private[graft] def linkageCandidates(
      rows: DataFrame, idCol: String, nameCol: String): DataFrame = {
    val k = rows
      .select(col(idCol).as("__id"), col(nameCol).as("__name"))
      .withColumn("__core", {
        val norm = lower(col("__name"))
        val digits = regexp_replace(norm, "[^0-9]", "")
        when(length(digits) >= 2, digits)
          .otherwise(regexp_replace(norm, "[^a-z0-9]", ""))
      })
      // "(.).?"→"$1" keeps chars at even 0-based positions, ".(.)?"→"$1"
      // the odd ones — codegen'd regex, no per-char lambda HOFs
      .select(col("__id"), col("__name"),
        md5(regexp_replace(col("__core"), "(.).?", "$1")).as("b1"),
        md5(regexp_replace(col("__core"), ".(.)?", "$1")).as("b2"))
    def pairsOn(b: String) = k.as("x")
      .join(k.as("y"),
        col(s"x.$b") === col(s"y.$b") && col("x.__id") < col("y.__id"))
      .select(col("x.__id").as("id_a"), col("y.__id").as("id_b"),
        col("x.__name").as("name_a"), col("y.__name").as("name_b"))
    pairsOn("b1").union(pairsOn("b2")).distinct()
  }

  /** Fuzzy record linkage (entity resolution on IDENTIFIER strings, the
    * complement of the document-content families above): supplier-name
    * pairs within edit distance 1, candidates from [[linkageCandidates]]'
    * content-derived multi-key blocking — so no all-pairs product ever
    * exists and no key encodes the fixture's name layout. levenshtein
    * runs codegen'd only on the banded candidates; both engines implement
    * the same unit-cost DP, so distances match exactly.
    */
  val q96FuzzyLinkage = Q(
    "q96_fuzzy_linkage",
    """WITH c AS (
      |  SELECT s_suppkey, s_name,
      |    CASE WHEN length(regexp_replace(lower(s_name), '[^0-9]', '', 'g')) >= 2
      |      THEN regexp_replace(lower(s_name), '[^0-9]', '', 'g')
      |      ELSE regexp_replace(lower(s_name), '[^a-z0-9]', '', 'g') END AS core
      |  FROM supplier
      |),
      |k AS (
      |  SELECT s_suppkey, s_name,
      |    md5(regexp_replace(core, '(.).?', '\1', 'g')) AS b1,
      |    md5(regexp_replace(core, '.(.)?', '\1', 'g')) AS b2
      |  FROM c
      |),
      |cand AS (
      |  SELECT a.s_suppkey AS id_a, b.s_suppkey AS id_b,
      |    a.s_name AS name_a, b.s_name AS name_b
      |  FROM k a JOIN k b ON a.b1 = b.b1 AND a.s_suppkey < b.s_suppkey
      |  UNION
      |  SELECT a.s_suppkey, b.s_suppkey, a.s_name, b.s_name
      |  FROM k a JOIN k b ON a.b2 = b.b2 AND a.s_suppkey < b.s_suppkey
      |)
      |SELECT id_a, id_b, CAST(levenshtein(name_a, name_b) AS BIGINT) AS dist
      |FROM cand
      |WHERE levenshtein(name_a, name_b) <= 1
      |ORDER BY id_a NULLS FIRST, id_b NULLS FIRST""".stripMargin,
  ) { (s, d) =>
    linkageCandidates(Tables.supplier(s, d), "s_suppkey", "s_name")
      .select(col("id_a"), col("id_b"),
        levenshtein(col("name_a"), col("name_b")).cast("long").as("dist"))
      .filter(col("dist") <= 1)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Cross-document duplicate-n-gram accounting (the C4/RefinedWeb-style
    * contamination signal, complementary to q68's WITHIN-doc repetition):
    * for each doc, the fraction of its distinct word-8-grams that occur in
    * at least one OTHER document — high fractions mark boilerplate and
    * template content that survives exact and near dedup. Mechanics reuse
    * the q66 idiom: per-row `array_distinct` on raw grams BEFORE the
    * explode (no corpus-wide DISTINCT shuffle), md5 digests as fixed-width
    * join keys projected relationally (codegen, not lambdas). The gram
    * document-frequency table is re-joined WITHOUT a broadcast hint — it
    * is vocabulary-sized at scale, Catalyst/AQE picks the strategy (the
    * q52 rule). df counts are map-side-combined; a gram seen in k docs
    * costs k join rows, never k² pairs.
    */
  val q86DupNgrams = Q(
    "q86_dup_ngrams",
    s"""WITH tok AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
      |),
      |g AS (
      |  SELECT doc_id,
      |    unnest(list_distinct(list_transform(range(1, len(toks) - 6),
      |      i -> md5(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' '
      |        || toks[i+3] || ' ' || toks[i+4] || ' ' || toks[i+5] || ' '
      |        || toks[i+6] || ' ' || toks[i+7])))) AS gram
      |  FROM tok WHERE len(toks) >= 8
      |),
      |df AS (SELECT gram, count(*) AS df FROM g GROUP BY gram)
      |SELECT g.doc_id, count(*) AS n_grams,
      |  count(*) FILTER (WHERE df.df > 1) AS n_shared,
      |  ${graft.functions.Exact.Sql.ratio6(
          "count(*) FILTER (WHERE df.df > 1)", "count(*)")} AS shared_frac
      |FROM g JOIN df ON g.gram = df.gram
      |GROUP BY g.doc_id
      |ORDER BY g.doc_id NULLS FIRST""".stripMargin,
  ) { (s, d) =>
    val n = 8
    // r21: 8-gram assembly + md5 per gram fuse into the scan stage — fan
    // the doc rows first (Fan.scala)
    val base = Fan.fan(Tables.documents(s, d))
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= n)
    val grams = base
      .select(col("doc_id"),
        explode(array_distinct(transform(
          sequence(lit(1), size(col("toks")) - (n - 1)),
          i => concat_ws(" ",
            (0 until n).map(k => element_at(col("toks"), i + k)): _*))))
          .as("raw"))
      .select(col("doc_id"), md5(col("raw")).as("gram"))
    // df via a window over the gram partition rather than a groupBy+join
    // back onto the gram rows: the join shape instantiated the whole
    // tokenize+md5 subtree twice (once per side); the window computes df
    // in the same single pass that carries the rows (q51's idiom)
    grams
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("gram"))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        count(when(col("df") > 1, lit(1))).as("n_shared"))
      .select(col("doc_id"), col("n_grams"), col("n_shared"),
        graft.functions.Exact.ratio6("n_shared", "n_grams").as("shared_frac"))
      .orderBy(col("doc_id"))
  }

  /** Exact content-hash dedup with keep-first semantics: canonicalize
    * (lowercase, 50-char prefix — standing in for whitespace/punctuation
    * normalization), sha2-256, keep the smallest doc_id per group. One
    * shuffle on the 32-byte hash; survivors + duplicate counts out.
    */
  val q31ExactDedup = Q(
    "q31_exact_dedup",
    """SELECT sha256(lower(substr(text, 1, 50))) AS h,
      |  min(doc_id) AS keep_id,
      |  count(*) AS n_dups
      |FROM documents
      |GROUP BY 1
      |ORDER BY keep_id NULLS FIRST""".stripMargin,
  ) { (s, d) =>
    Fan.fan(Tables.documents(s, d))
      .groupBy(sha2(lower(substring(col("text"), 1, 50)), 256).as("h"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_dups"))
      .orderBy(col("keep_id"))
  }

  /** MinHash + banded LSH near-duplicate detection, end to end:
    * shingle → per-band MinHash signature → bucket self-join on (band, sig)
    * → DISTINCT candidate pairs → exact word-3-gram Jaccard ≥ 0.5
    * verification. The bucket join is the ONLY pair generator — the plan
    * contains no cartesian product.
    *
    * Hashing layout (the hot path at scale): only FOUR md5 calls per
    * shingle; each 128-bit digest is sliced into four 32-bit (8-hex-char)
    * values, giving 16 independent minhash components of which B×r = 15
    * are consumed as B=5 bands × r=3 rows (one slice spare). r=3 makes a
    * background-similarity pair ~j³ likely per band
    * (steep candidate cutoff) while j≈0.97 true near-dups are certain;
    * slicing instead of hashing per component is a 4× md5 reduction —
    * measured 21.5s → the md5 budget drops from 16 to 4 per shingle.
    */
  val q32MinhashNeardup = Q(
    "q32_minhash_neardup",
    s"""WITH sh AS (
      |  SELECT doc_id,
      |    list_distinct(list_transform(range(1, len(string_split(text,' ')) - 2 + 1),
      |      i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1]
      |        || ' ' || string_split(text,' ')[i+2])) AS shingles
      |  FROM documents
      |),
      |dig AS (
      |  SELECT doc_id,
      |    list_transform(shingles, s ->
      |      [md5('0|' || s), md5('1|' || s), md5('2|' || s), md5('3|' || s)]) AS digs
      |  FROM sh
      |),
      |bands AS (
      |  SELECT doc_id, b,
      |    list_min(list_transform(digs, a ->
      |      substr(a[(b*3 + 0) // 4 + 1], ((b*3 + 0) % 4) * 8 + 1, 8))) AS s0,
      |    list_min(list_transform(digs, a ->
      |      substr(a[(b*3 + 1) // 4 + 1], ((b*3 + 1) % 4) * 8 + 1, 8))) AS s1,
      |    list_min(list_transform(digs, a ->
      |      substr(a[(b*3 + 2) // 4 + 1], ((b*3 + 2) % 4) * 8 + 1, 8))) AS s2
      |  FROM dig, (SELECT unnest(range(0,5)) AS b)
      |),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
      |  FROM bands a JOIN bands c ON a.b = c.b
      |    AND a.s0 = c.s0 AND a.s1 = c.s1 AND a.s2 = c.s2
      |    AND a.doc_id < c.doc_id
      |)
      |SELECT cand.doc_a, cand.doc_b,
      |  ${graft.functions.Exact.Sql.ratio6("len(list_intersect(x.shingles, y.shingles))",
          "len(list_distinct(list_concat(x.shingles, y.shingles)))")} AS jaccard
      |FROM cand
      |JOIN sh x ON cand.doc_a = x.doc_id
      |JOIN sh y ON cand.doc_b = y.doc_id
      |WHERE ${graft.functions.Exact.Sql.ratio6("len(list_intersect(x.shingles, y.shingles))",
          "len(list_distinct(list_concat(x.shingles, y.shingles)))")} >= 0.5
      |ORDER BY doc_a NULLS FIRST, doc_b NULLS FIRST""".stripMargin,
  ) { (s, d) =>
    nearDups(Fan.fan(Tables.documents(s, d)).select(col("doc_id"), col("text")))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  private val MinhashBandCount = 5 // B
  private val MinhashRowsPerBand = 3 // r (32-bit slices per band)

  /** Distinct (doc_id, sh) word-3-gram rows — the shared stage feeding both
    * the signature aggregate and the exact-Jaccard verify. Hot path = the
    * q33 rewrite: shingles become ROWS (explode of an index sequence,
    * whole-stage codegen) — no interpreted higher-order-function folds
    * anywhere near the md5 loop (those run per element, interpreted, and
    * their call sites go megamorphic in a long session; q32 benched
    * 4.9s→22s across rounds from exactly that). Distinctness is PER-DOC, so
    * it runs as a per-row array_distinct BEFORE the explode: zero shuffle
    * where explode→DISTINCT paid an exchange + 3 hash aggregates.
    */
  private[graft] def shingleRows(docs: DataFrame): DataFrame = {
    val words = split(col("text"), " ")
    // r21: when `docs` is a bare scan (q32/q132/q170 shapes) the shingle
    // explode + the 4-md5 budget fuse into the single-split scan stage —
    // one core. Fan the doc rows first (zero-job dispatch; a join-rooted
    // input — q319's reps — passes through untouched, already parallel).
    Fan.fan(docs)
      // the filter both excludes sub-window docs (DuckDB's range() yields
      // no shingles for them) and keeps sequence() ascending — Spark's
      // sequence(1, n) DESCENDS for n < 1 and would fabricate indices
      .filter(size(words) >= 3)
      .select(col("doc_id"), words.as("ws"))
      .select(col("doc_id"),
        explode(array_distinct(transform(
          sequence(lit(1), size(col("ws")) - 2), i =>
            concat_ws(" ",
              element_at(col("ws"), i),
              element_at(col("ws"), i + 1),
              element_at(col("ws"), i + 2))))).as("sh"))
  }

  /** Banded MinHash signature index rows (doc_id, ns, b, s0..s2) from
    * distinct shingle rows — the compact unit of LSH state (~15 longs per
    * doc instead of the shingle set). Only FOUR md5 calls per shingle;
    * each 128-bit digest is sliced into four 32-bit (8-hex-char) values,
    * giving 16 independent minhash components of which B×r = 15 are
    * consumed (one spare) — a 4× md5 reduction (measured 21.5s → the md5
    * budget drops from 16 to 4 per shingle). Duplicate shingles need no
    * dedup: min over duplicates equals min over the distinct set. The
    * exchange carries only (doc_id, 15×8-hex) per doc. Slices are NUMERIC
    * (8 hex chars → long) so the 15 min() aggregates keep a primitive
    * buffer and stay in codegen'd HashAggregate — min over the hex STRING
    * falls back to SortAggregate (see q51; fixed-width hex ordering is
    * value ordering, so the oracle's lexicographic list_min selects the
    * same components, compared componentwise).
    */
  private[graft] def minhashBands(dsh: DataFrame): DataFrame = {
    val B = MinhashBandCount
    val R = MinhashRowsPerBand
    val dig = dsh.select(col("doc_id") +:
      (0 to 3).map(k => md5(concat(lit(s"$k|"), col("sh"))).as(s"d$k")): _*)
    def slice(k: Int): Column =
      conv(substring(col(s"d${k / 4}"), (k % 4) * 8 + 1, 8), 16, 10)
        .cast("long")
    val mins = (0 until B * R).map(k => min(slice(k)).as(s"m$k"))
    val sigd = dig.groupBy(col("doc_id"))
      .agg(mins.head, mins.tail :+ count(lit(1)).as("ns"): _*)
    val sigs = array((0 until B).map { b =>
      struct(
        lit(b).as("b"),
        col(s"m${b * R}").as("s0"),
        col(s"m${b * R + 1}").as("s1"),
        col(s"m${b * R + 2}").as("s2"))
    }: _*)
    sigd
      .select(col("doc_id"), col("ns"), explode(sigs).as("bs"))
      .select(col("doc_id"), col("ns"), col("bs.b").as("b"),
        col("bs.s0").as("s0"), col("bs.s1").as("s1"), col("bs.s2").as("s2"))
  }

  /** RELATIONAL exact-Jaccard verify (same as q51): |A∩B| by joining the
    * pair list to the distinct shingle rows and counting — per-PAIR array
    * rebuilds would re-shingle every doc once per candidate (O(k²) work
    * inside a k-doc near-dup block; q51 measured 48s from that shape).
    * `cand` carries (doc_a, doc_b, ns_a, ns_b); output keeps pairs with
    * exact word-3-gram Jaccard ≥ 0.5.
    */
  private[graft] def verifyJaccard(cand: DataFrame, dsh: DataFrame): DataFrame =
    cand
      .join(dsh.as("ga"), col("doc_a") === col("ga.doc_id"))
      .join(dsh.as("gb"),
        col("doc_b") === col("gb.doc_id") && col("ga.sh") === col("gb.sh"))
      .groupBy(col("doc_a"), col("doc_b"), col("ns_a"), col("ns_b"))
      .agg(count(lit(1)).as("ni"))
      .select(col("doc_a"), col("doc_b"),
        graft.functions.Exact.ratio6("ni", "ns_a + ns_b - ni").as("jaccard"))
      .filter(col("jaccard") >= 0.5)

  /** Self-join bucket candidates over a banded signature frame:
    * (doc_a < doc_b, ns_a, ns_b), DISTINCT. The ONLY pair generator in the
    * LSH family — factored out so the flood spec can row-count it
    * directly (the bounded-work assertion). */
  private[graft] def candidatePairs(bands: DataFrame): DataFrame =
    bands.as("a")
      .join(bands.as("c"),
        col("a.b") === col("c.b") &&
          col("a.s0") === col("c.s0") && col("a.s1") === col("c.s1") &&
          col("a.s2") === col("c.s2") &&
          col("a.doc_id") < col("c.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("c.doc_id").as("doc_b"),
        col("a.ns").as("ns_a"), col("c.ns").as("ns_b"))
      .distinct() // ns is functionally dependent on doc_id — pairs stay unique

  /** Exact-duplicate pre-collapse — the LSH hot-bucket mitigation. Docs
    * are grouped by `sha2(text)`; only ONE representative per distinct
    * text (the min doc_id) enters shingling/banding. An adversarial flood
    * of k identical documents would otherwise put k copies of the same
    * signature into every one of its 5 (band,sig) buckets and the bucket
    * self-join would emit k(k-1)/2 candidate rows, each paying the full
    * shingle-join verification — the classic LSH identical-doc blowup.
    * After the collapse that bucket holds exactly one row per DISTINCT
    * text, so per-bucket candidate pairs are bounded by the distinct-text
    * count regardless of duplication factor; duplicate-heavy corpora get
    * CHEAPER, not catastrophically slower. Costs one text-hash shuffle
    * (window-min, no join) — noise next to the per-shingle md5 budget.
    *
    * Returns (reps, members): reps = (doc_id, text) one per distinct
    * text; members = (doc_id, rep_id) covering every input doc.
    */
  private[graft] def collapseByText(docs: DataFrame): (DataFrame, DataFrame) = {
    val hashed = docs
      .select(col("doc_id"), col("text"), sha2(col("text"), 256).as("th"))
    // (th → rep) via a map-side-combined aggregate + equi-joins, NOT a
    // window over th: the banded pipeline downstream consumes `reps`
    // from ~6 subtrees (both bucket-join sides, both verify sides, the ns
    // projection), and each re-evaluation of a window form re-shuffles
    // and re-sorts the full TEXT column (q32 benched 4.5 s at sf0.1; this
    // join form 3.2 s vs the uncollapsed 1.55 s — the residual is the
    // price of flood-safety on a corpus with ~zero duplicates, the worst
    // case FOR the collapse; duplicate-heavy corpora get strictly
    // cheaper). localCheckpoint pins were ALSO tried and rejected: the
    // eager barriers serialize subtrees local[32] runs in parallel
    // (measured 5.2 s). The aggregate shuffles only (th, id), and the
    // joins let AQE broadcast the group table at suite scale while
    // degrading to plain shuffle joins when distinct-text count is
    // corpus-sized.
    val groups = hashed.groupBy(col("th")).agg(min(col("doc_id")).as("rep_id"))
    (hashed.join(groups, hashed("doc_id") === groups("rep_id"))
       .select(col("doc_id"), col("text")),
     hashed.select(col("doc_id"), col("th"))
       .join(groups, "th")
       .select(col("doc_id"), col("rep_id")))
  }

  /** Expand representative-level verified pairs back to document-level
    * pairs — the algebraic inverse of [[collapseByText]], exact because
    * signatures and shingle sets are pure functions of the text:
    *  - cross-group: every (member of A) × (member of B) pair inherits the
    *    rep pair's jaccard verbatim (same two texts);
    *  - intra-group: any two members of one group are identical texts, so
    *    jaccard = ratio6(ns, ns) = 1.000000 exactly — computed through the
    *    same fixed-point ratio the verify path uses so the value (and its
    *    type) is bit-identical to what the naive plan would have emitted.
    *    Groups whose text yields no word-3-gram (< 3 words) have no repNs
    *    row and drop out — exactly the naive plan's NULL-signature
    *    behavior (and DuckDB's empty-list list_min join semantics).
    * Work here is proportional to the OUTPUT pair count, which no correct
    * implementation can avoid; the point of the collapse is that the
    * bucket join and the shingle-join verify upstream never see the k²
    * blowup.
    */
  private def expandPairs(
      repPairs: DataFrame, members: DataFrame, repNs: DataFrame): DataFrame = {
    val cross = repPairs.as("p")
      .join(members.as("ma"), col("ma.rep_id") === col("p.doc_a"))
      .join(members.as("mb"), col("mb.rep_id") === col("p.doc_b"))
      .select(
        least(col("ma.doc_id"), col("mb.doc_id")).as("doc_a"),
        greatest(col("ma.doc_id"), col("mb.doc_id")).as("doc_b"),
        col("p.jaccard"))
    val intra = members.as("x")
      .join(members.as("y"),
        col("x.rep_id") === col("y.rep_id") &&
          col("x.doc_id") < col("y.doc_id"))
      .join(repNs.as("n"), col("x.rep_id") === col("n.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        graft.functions.Exact.ratio6("ns", "ns").as("jaccard"))
    cross.unionByName(intra)
  }

  /** q32's full pipeline over an arbitrary (doc_id, text) frame.
    * Collapses exact duplicates first ([[collapseByText]]), runs banded
    * LSH over distinct texts only, then expands pairs back
    * ([[expandPairs]]) — output is provably identical to the naive
    * all-docs plan on EVERY corpus (the flood spec and the q32 oracle
    * both pin this), while bucket-join work is bounded by distinct-text
    * count. */
  def nearDups(docs: DataFrame): DataFrame = {
    // Deliberately UNPINNED: the ~6 downstream consumers (both band-join
    // sides, both verify sides, the ns projection) re-evaluate the
    // collapse subtrees, but collapseByText's aggregate+join form makes
    // each re-evaluation a narrow scan + AQE-broadcast probe, and on
    // local[32] those parallel re-evaluations beat the serializing eager
    // barriers a localCheckpoint pin introduces (measured: pinned 5.2 s
    // vs unpinned 3.2 s at sf0.1 — collapseByText's rejection note). A
    // 100 TB pipeline would instead PERSIST reps as a table: it is the
    // exact-dedup output the near-dup pass starts from.
    val (reps, members) = collapseByText(docs)
    val dsh = shingleRows(reps)
    val bands = minhashBands(dsh)
    val repPairs = verifyJaccard(candidatePairs(bands), dsh)
    val repNs = bands.select(col("doc_id"), col("ns")).distinct()
    expandPairs(repPairs, members, repNs)
  }

  // NOTE on a rejected form: intra-group ns via a per-row
  // `size(array_distinct(transform(...)))` projection was tried and hit
  // the interpreted-HOF megamorphic cliff this file's shingle pipeline
  // already documents (measured 60 s on the second hot run in one
  // session). ns rides the band rows instead — zero extra passes.

  /** Character-n-gram Jaccard near-dup — the dedup family member that works
    * on raw characters (robust to tokenization differences, unlike q32's
    * word shingles). Candidate generation is ONE banded min-hash key per
    * document (r=2: concat of two independent min-gram digests), so the pair
    * source is a plain equi self-join on that key — no cross join, and no
    * DISTINCT needed since each doc owns exactly one key. r=2 keeps a
    * background-similarity pair ~j² likely while j≈0.98 true near-dups are
    * near-certain (measured at sf0.01: 500 docs → 314 blocks, max block 10,
    * 389 candidate pairs, 24 true pairs at τ=0.5). At 100 TB the same plan
    * holds: the self-join shuffles on the band key; block sizes are bounded
    * by near-dup cluster sizes, not corpus size.
    */
  val q51NgramJaccard = Q(
    "q51_ngram_jaccard",
    s"""WITH g AS (
      |  SELECT doc_id,
      |    list_distinct(list_transform(range(1, length(text) - 4 + 1),
      |      i -> substr(text, i, 5))) AS grams
      |  FROM documents
      |),
      |k AS (
      |  SELECT doc_id, grams,
      |    list_min(list_transform(grams, x -> substr(md5('0|' || x), 1, 15))) AS bk0,
      |    list_min(list_transform(grams, x -> substr(md5('1|' || x), 1, 15))) AS bk1
      |  FROM g WHERE len(grams) > 0
      |)
      |SELECT doc_a, doc_b, jaccard FROM (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    ${graft.functions.Exact.Sql.ratio6("len(list_intersect(a.grams, b.grams))",
          "len(list_distinct(list_concat(a.grams, b.grams)))")} AS jaccard
      |  FROM k a JOIN k b
      |  ON a.bk0 = b.bk0 AND a.bk1 = b.bk1 AND a.doc_id < b.doc_id) t
      |WHERE jaccard >= 0.5
      |ORDER BY doc_a NULLS FIRST, doc_b NULLS FIRST""".stripMargin,
  ) { (s, d) =>
    val docs = Fan.fan(Tables.documents(s, d))
      .select(col("doc_id"), col("text"))
    // RELATIONAL form with all EXPENSIVE work out of lambdas (interpreted
    // HOF md5 folds benched 3.7s→55s across rounds from megamorphic call
    // sites; per-PAIR array Jaccard benched 48s on this corpus's 246-doc
    // near-dup blocks). One codegen'd pass:
    //  1. distinct (doc_id, gram) rows — dedup is PER-DOC, so it runs as a
    //     per-row array_distinct BEFORE the explode (the substr lambda is
    //     trivially cheap; the md5s stay relational): zero shuffle, where
    //     explode→DISTINCT paid an exchange + 3 hash aggregates;
    //  2. bk + gram count in ONE hash aggregate (min over distinct grams
    //     equals min over all — dedup only tightens the count);
    //  3. band keys + gram count via ONE window over doc_id — min(h)/count
    //     OVER (PARTITION BY doc_id) tags every gram row with its doc's
    //     signature in the same pass that carries the gram, so there is NO
    //     separate signature aggregate and NO join-back (a groupBy+join
    //     shape re-ran the 2-md5-per-gram aggregate once per reference —
    //     measured 10.7s lazy, 10.3s eagerly checkpointed);
    //  4. |A∩B| per same-block pair by CO-OCCURRENCE: self-join the tagged
    //     gram rows on (bk0, bk1, g) — every join output row IS one shared
    //     gram of one pair, so the join materializes exactly the
    //     intersection mass Σ|A∩B| (2.6M rows at sf0.1) where the previous
    //     pairs-then-verify plan materialized the union mass Σ|A| per pair
    //     (15M rows; banding precision here is 247 true / 33k candidates,
    //     so union mass is ~6× larger). Pairs sharing NO gram have j = 0
    //     and are dropped by the j ≥ 0.5 filter either way, so the output
    //     is IDENTICAL to enumerate-then-verify (the oracle keeps that
    //     shape: DuckDB's list_intersect on 5k docs is not a bottleneck);
    //     ng_a/ng_b ride THROUGH the join as grouping keys — no per-doc
    //     lookup joins after the aggregate. Measured 5.1s → 2.4s.
    // Every step is window / hash join / hash aggregate over scalar
    // columns, so the same plan holds at 100 TB: shuffles carry (id or
    // block, 5-char gram) rows, intersection mass ≤ union mass ALWAYS,
    // and the per-(block, gram) fan-out is bounded by block size — the
    // same bound the pair enumeration already had. The self-join's build
    // side goes broadcast HERE by statistics (45 MB of tagged rows); at
    // corpus scale the same statistics push it to a shuffle join — the
    // decision stays Catalyst's, not a hint.
    // Measured worse across rounds and NOT done: localCheckpoint of the
    // gram rows (5.7s → 8.6s — serialization beats recompute losses) and
    // q32-style digest slicing (both band keys from windows of ONE md5 —
    // 6.5s → 13.4s from hotter buckets).
    //
    // Band components are NUMERIC (first 15 hex chars → long): min over a
    // primitive buffer stays in the codegen'd window aggregate, where min
    // over the digest STRING would carry UTF8String buffers through the
    // sort. Fixed-width lowercase hex is order-isomorphic to its numeric
    // value, so the oracle's lexicographic list_min over the same 15-char
    // prefixes selects identical band keys.
    def hashed(prefix: String): Column =
      conv(substring(md5(concat(lit(prefix), col("g"))), 1, 15), 16, 10)
        .cast("long")
    val dg = Fan.fan(docs) // r21: 10M-gram explode fuses
      // into the single-split scan stage otherwise (Fan.scala)
      .filter(length(col("text")) >= 5)
      .select(col("doc_id"),
        explode(array_distinct(transform(
          sequence(lit(1), length(col("text")) - 4),
          i => col("text").substr(i, lit(5))))).as("g"))
      .select(col("doc_id"), col("g"),
        hashed("0|").as("h0"), hashed("1|").as("h1"))
    val w = Window.partitionBy(col("doc_id"))
    val tagged = dg.select(col("doc_id"), col("g"),
      min(col("h0")).over(w).as("bk0"),
      min(col("h1")).over(w).as("bk1"),
      count(lit(1)).over(w).as("ng"))
    tagged.as("a")
      .join(tagged.as("b"),
        col("a.bk0") === col("b.bk0") && col("a.bk1") === col("b.bk1") &&
          col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.ng").as("ng_a"), col("b.ng").as("ng_b"))
      .agg(count(lit(1)).as("ni"))
      .select(col("doc_a"), col("doc_b"),
        graft.functions.Exact.ratio6("ni", "ng_a + ng_b - ni").as("jaccard"))
      .filter(col("jaccard") >= 0.5)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** SimHash document fingerprinting: 16-bit signature where bit j is the
    * sign of Σ over tokens of ±1. Near-identical token multisets collapse to
    * the same fingerprint; the group count surfaces collisions. Fully
    * parallel scan — the only shuffle is the fingerprint window count.
    *
    * ONE md5 per token: bit j's ±1 comes from hex nibble j of the token's
    * digest (each nibble's top bit is an independent unbiased coin), so the
    * 16 bit-sums share a single digest — 16× less hashing than a
    * per-(token, j) hash.
    */
  val q33SimhashFingerprint = Q(
    "q33_simhash_fingerprint",
    """SELECT doc_id, simhash, CAST(count(*) OVER (PARTITION BY simhash) AS BIGINT) AS n_same
      |FROM (
      |  SELECT doc_id,
      |    array_to_string(list_transform(range(0, 16), j ->
      |      CASE WHEN list_sum(list_transform(digs,
      |          h -> CASE WHEN substr(h, j + 1, 1) >= '8' THEN 1 ELSE -1 END)) >= 0
      |        THEN '1' ELSE '0' END), '') AS simhash
      |  FROM (
      |    SELECT doc_id,
      |      list_transform(string_split(text, ' '), w -> md5(w)) AS digs
      |    FROM documents) dg) t
      |ORDER BY doc_id NULLS FIRST""".stripMargin,
  ) { (s, d) =>
    // explode + 16 conditional SUMs in one hash aggregate, NOT 16
    // aggregate() lambda folds over a digest array: higher-order-function
    // folds run interpreted per element, and in a long session their
    // Expression.eval call sites go megamorphic — this query benched 2s
    // isolated but 23s inside the full suite. The exploded form is plain
    // whole-stage-codegen'd sum(CASE WHEN ...) all the way down, immune to
    // profile pollution, and map-side-combines to one row per doc before
    // the shuffle.
    val toks = Fan.fan(Tables.documents(s, d))
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .select(col("doc_id"), md5(col("w")).as("h"))
    val bitSums = (0 to 15).map { j =>
      sum(when(substring(col("h"), j + 1, 1) >= "8", 1).otherwise(-1))
        .as(s"b$j")
    }
    val simhash = concat((0 to 15).map { j =>
      when(col(s"b$j") >= 0, lit("1")).otherwise(lit("0"))
    }: _*)
    toks
      .groupBy(col("doc_id"))
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"), simhash.as("simhash"))
      .withColumn("n_same",
        count(lit(1)).over(Window.partitionBy(col("simhash"))))
      .orderBy(col("doc_id"))
  }

  /** Connected components of a symmetric edge list (`a`,`b` columns) by
    * min-label propagation WITH pointer jumping: each round takes the
    * neighborhood minimum (the Pregel step) and then short-circuits through
    * the label graph (`component := component's component`) — the path-
    * halving trick that turns O(diameter) rounds into O(log diameter), so
    * a 30-deep chain converges in ~5 rounds, not 30. Per round: two
    * shuffle joins + one agg, `localCheckpoint` truncating lineage (a
    * cluster deployment swaps in reliable `checkpoint()`); the only driver
    * action is the isEmpty convergence probe — labels never leave the
    * executors. Non-convergence within `maxIter` FAILS LOUDLY
    * (`require`): wrong-but-plausible labels from a silently exhausted cap
    * are worse than an exception (round-6 verdict item 2; DedupCcSpec pins
    * both the deep-chain convergence and the loud failure).
    *
    * CROSSOVER NOTE — do not "optimize" this at toy scale: pointer
    * jumping adds a second join + localCheckpoint per round, so each
    * round costs ~2× plain propagation while the ROUND COUNT drops from
    * O(diameter) to O(log diameter). On sf0.1's 47-edge graph (diameter
    * ~3) the fixed per-round Spark overhead dominates and the jump
    * measurably LOSES (q74 2.42 s plain → 3.52 s jumped, r6→r7 bench);
    * the jump pays once diameter exceeds ~8 (2× per-round cost < 8/log₂8
    * round savings) — i.e. on exactly the long chains a 100 TB near-dup
    * graph contains and the 30-deep DedupCcSpec case pins (~5 rounds,
    * not 30). Removing the jump would trade a scale property for ~1 s on
    * a fixture.
    */
  private[graft] def connectedComponents(
      edges: DataFrame, maxIter: Int = 25): DataFrame = {
    // pin the edge list ONCE: every round's neighborhood join re-derives
    // `edges` otherwise — for q74 that is the sha256 blocking self-join
    // over the whole corpus, re-run twice per round (propagate + probe).
    // Edge mass is pair-scale (near-dup candidates), orders of magnitude
    // below corpus mass, so materializing it is what GraphFrames/GraphX do
    // before any iterative traversal (measured 2.8 s → 2.4 s at sf0.1 —
    // modest here because the 47-edge fixture graph makes the per-round
    // driver/job overhead, not the edge recompute, the floor; the recompute
    // saved is corpus-scale where edges come from a blocking self-join).
    val e = edges.transform(graft.operators.Iter.pin)
    var labels = e.select(col("a").as("doc_id")).distinct()
      .withColumn("component", col("doc_id"))
      .transform(graft.operators.Iter.pin)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val nbrMin = e.join(labels, col("b") === col("doc_id"))
        .groupBy(col("a")).agg(min(col("component")).as("nbr_min"))
      val stepped = labels
        .join(nbrMin, col("doc_id") === col("a"), "left")
        .select(col("doc_id"),
          least(col("component"),
            coalesce(col("nbr_min"), col("component"))).as("component"))
      // pointer jump: a node's component is itself a node id, so route
      // each label through that node's current label — labels converge to
      // the component minimum in logarithmically many rounds
      val updated = stepped.as("u")
        .join(stepped.select(col("doc_id").as("c_id"),
          col("component").as("c_comp")).as("v"),
          col("component") === col("c_id"), "left")
        .select(col("doc_id"),
          least(col("component"),
            coalesce(col("c_comp"), col("component"))).as("component"))
        .transform(graft.operators.Iter.pin)
      converged = updated.as("u")
        .join(labels.as("l"), "doc_id")
        .filter(col("u.component") =!= col("l.component"))
        .isEmpty
      labels = updated
      iter += 1
    }
    require(converged,
      s"connected components did not converge within $maxIter rounds — " +
        "raise maxIter (or move to the alternating large-star/small-star " +
        "variant) rather than trusting partial labels")
    labels
  }

  /** Dedup-cluster resolution: the step AFTER pair generation — candidate
    * pairs from multi-key blocking (prefix-hash OR suffix-hash equality,
    * the union-of-blocking-keys idiom) form chains (a~b on one key, b~c on
    * the other), and keeping one canonical doc per NEAR-DUP GROUP requires
    * the connected components of that pair graph, not the pair list —
    * computed by [[connectedComponents]] (min-label propagation + pointer
    * jumping, loud on non-convergence). Min-label CC is order-independent,
    * so the fixpoint is deterministic and matches the oracle's
    * recursive-CTE transitive closure.
    */
  val q74DedupClusters = Q(
    "q74_dedup_clusters",
    """WITH RECURSIVE n AS (
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
      |edges AS (SELECT a, b FROM e0 UNION ALL SELECT b AS a, a AS b FROM e0),
      |nodes AS (SELECT DISTINCT a AS doc_id FROM edges),
      |reach AS (
      |  SELECT doc_id, doc_id AS r FROM nodes
      |  UNION
      |  SELECT e.a AS doc_id, reach.r FROM edges e
      |  JOIN reach ON reach.doc_id = e.b
      |),
      |comp AS (SELECT doc_id, min(r) AS component FROM reach GROUP BY doc_id),
      |sz AS (SELECT component, count(*) AS cluster_size FROM comp
      |       GROUP BY component)
      |SELECT c.doc_id, c.component, c.doc_id = c.component AS is_canonical,
      |  s.cluster_size
      |FROM comp c JOIN sz s ON c.component = s.component
      |ORDER BY c.component NULLS FIRST, c.doc_id NULLS FIRST""".stripMargin,
  ) { (s, d) =>
    val labels =
      connectedComponents(affixEdges(Fan.fan(Tables.documents(s, d))))
    val sizes = labels.groupBy(col("component"))
      .agg(count(lit(1)).as("cluster_size"))
    labels
      .join(sizes, "component")
      .select(col("doc_id"), col("component"),
        (col("doc_id") === col("component")).as("is_canonical"),
        col("cluster_size"))
      .orderBy(col("component"), col("doc_id"))
  }

  /** q74's undirected pair list (a < b): docs sharing a 50-char prefix or
    * suffix hash (banded equi self-joins, no cartesian) — shared by the
    * cluster labeling (q74), the survivor selection (q117), and the
    * triangle/clustering audit (q134). */
  private[queries] def affixPairs(docs: DataFrame): DataFrame = {
    val n = docs.select(
      col("doc_id"),
      sha2(substring(col("text"), 1, 50), 256).as("hp"),
      sha2(col("text").substr(
        greatest(length(col("text")) - 49, lit(1)), lit(50)), 256).as("hs"))
    def pairsOn(k: String) = n.as("x")
      .join(n.as("y"),
        col(s"x.$k") === col(s"y.$k") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
    pairsOn("hp").union(pairsOn("hs")).distinct()
  }

  /** [[affixPairs]] symmetrized — the edge-list form the iterative
    * operators consume. */
  private def affixEdges(docs: DataFrame): DataFrame = {
    val e0 = affixPairs(docs)
    e0.union(e0.select(col("b").as("a"), col("a").as("b")))
  }

  /** Cross-doc repeated-PASSAGE detection with winnowing-style
    * content-defined anchors — the long-verbatim-span complement to q86
    * (whose token 8-grams catch short boilerplate): a position anchors
    * when its 8-char gram's keyed md5 starts with hex '0' (1/16 density),
    * and each anchor fingerprints the 50-char window it opens. Because
    * anchoring depends only on CONTENT, two documents sharing a passage
    * pick the SAME anchor offsets inside it regardless of where the
    * passage sits in either doc — the property fixed-stride windows lack
    * (stride-25 windows of a shared passage align only for equal offsets
    * mod 25) and the reason every large-scale passage-dedup samples by
    * content. Expected anchors in a shared L-char passage ≈ (L−57)/16;
    * recall is probabilistic-by-design (documented winnowing trade), while
    * every reported duplicate is a true 50-char verbatim match.
    *
    * Plan at 100 TB: the per-position 8-gram hash is a pure scan (explode
    * + codegen'd md5, no shuffle); only the ~1/16 surviving anchors carry
    * the 50-char window hash into the one (doc, phash) aggregate, and
    * cross-doc multiplicity rides a phash-partitioned window over those
    * aggregates (q52's term-window idiom — no vocabulary self-join). The
    * shuffle mass is anchor-proportional, 16× below the q86 shape.
    */
  val q116DupPassages = Q(
    "q116_dup_passages",
    s"""WITH pos AS (
      |  SELECT doc_id, text, unnest(range(1, length(text) - 49 + 1)) AS i
      |  FROM documents WHERE length(text) >= 50),
      |a AS (
      |  SELECT doc_id, md5('p|' || substr(text, i, 50)) AS phash
      |  FROM pos WHERE substr(md5('a|' || substr(text, i, 8)), 1, 1) = '0'),
      |d1 AS (SELECT doc_id, phash, count(*) AS n_occ FROM a GROUP BY 1, 2),
      |d2 AS (SELECT doc_id, n_occ,
      |  count(*) OVER (PARTITION BY phash) AS nd FROM d1)
      |SELECT doc_id, CAST(sum(n_occ) AS BIGINT) AS n_anchors,
      |  CAST(coalesce(sum(n_occ) FILTER (WHERE nd > 1), 0) AS BIGINT)
      |    AS n_dup_anchors,
      |  ${graft.functions.Exact.Sql.ratio6(
          "coalesce(sum(n_occ) FILTER (WHERE nd > 1), 0)", "sum(n_occ)")}
      |    AS dup_frac
      |FROM d2 GROUP BY doc_id
      |ORDER BY doc_id NULLS FIRST""".stripMargin,
  ) { (s, d) =>
    val anchors = Fan.fan(Tables.documents(s, d))
      .filter(length(col("text")) >= 50)
      .select(col("doc_id"), col("text"),
        explode(sequence(lit(1), length(col("text")) - 49)).as("i"))
      .filter(expr("substring(md5(concat('a|', substring(text, i, 8))), 1, 1)")
        === "0")
      .select(col("doc_id"),
        expr("md5(concat('p|', substring(text, i, 50)))").as("phash"))
    val d1 = anchors.groupBy(col("doc_id"), col("phash"))
      .agg(count(lit(1)).as("n_occ"))
    val d2 = d1.withColumn("nd",
      count(lit(1)).over(Window.partitionBy(col("phash"))))
    d2.groupBy(col("doc_id"))
      .agg(sum(col("n_occ")).cast("long").as("n_anchors"),
        coalesce(sum(when(col("nd") > 1, col("n_occ"))), lit(0L)).cast("long")
          .as("n_dup_anchors"))
      .select(col("doc_id"), col("n_anchors"), col("n_dup_anchors"),
        graft.functions.Exact.ratio6("n_dup_anchors", "n_anchors")
          .as("dup_frac"))
      .orderBy(col("doc_id"))
  }

  /** Dedup SURVIVOR selection — the decision q74's labels exist for: per
    * near-dup cluster, keep the highest-quality member (longest doc,
    * doc_id tiebreak) and account for what gets dropped. This is the
    * actionable end of the dedup pipeline (the keep-list a curation job
    * feeds downstream), and deliberately NOT "keep the min-id canonical":
    * quality-based survivorship is what the dedup papers and every
    * production pipeline actually do. Plan: q74's banded edges →
    * components → one doc_id join for the quality column → a
    * component-partitioned rank window (components are cluster-sized,
    * never corpus-sized) → per-cluster rollup.
    */
  val q117DedupSurvivors = Q(
    "q117_dedup_survivors",
    """WITH RECURSIVE n AS (
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
      |edges AS (SELECT a, b FROM e0 UNION ALL SELECT b AS a, a AS b FROM e0),
      |nodes AS (SELECT DISTINCT a AS doc_id FROM edges),
      |reach AS (
      |  SELECT doc_id, doc_id AS r FROM nodes
      |  UNION
      |  SELECT e.a AS doc_id, reach.r FROM edges e
      |  JOIN reach ON reach.doc_id = e.b
      |),
      |comp AS (SELECT doc_id, min(r) AS component FROM reach GROUP BY doc_id),
      |q AS (
      |  SELECT c.component, c.doc_id, d.n_chars,
      |    row_number() OVER (PARTITION BY c.component
      |      ORDER BY d.n_chars DESC, c.doc_id) AS rk
      |  FROM comp c JOIN documents d ON c.doc_id = d.doc_id
      |)
      |SELECT component,
      |  max(CASE WHEN rk = 1 THEN doc_id END) AS keep_id,
      |  count(*) AS n_members,
      |  CAST(sum(CASE WHEN rk > 1 THEN n_chars ELSE 0 END) AS BIGINT)
      |    AS dropped_chars
      |FROM q GROUP BY component
      |ORDER BY component NULLS FIRST""".stripMargin,
  ) { (s, d) =>
    val docs = Fan.fan(Tables.documents(s, d))
    val labels = connectedComponents(affixEdges(docs))
    val rkW = Window.partitionBy(col("component"))
      .orderBy(col("n_chars").desc, col("doc_id"))
    labels
      .join(docs.select(col("doc_id"), col("n_chars")), "doc_id")
      .withColumn("rk", row_number().over(rkW))
      .groupBy(col("component"))
      .agg(max(when(col("rk") === 1, col("doc_id"))).as("keep_id"),
        count(lit(1)).as("n_members"),
        coalesce(sum(when(col("rk") > 1, col("n_chars"))), lit(0L))
          .cast("long").as("dropped_chars"))
      .orderBy(col("component"))
  }

  /** EXACT all-pairs similarity join via PREFIX FILTERING (the
    * PPJoin/AllPairs family) — the deterministic complement to q32's LSH:
    * every token-Jaccard ≥ 0.9 pair is found with ZERO false negatives,
    * where banded MinHash is probabilistic by construction. The classic
    * theorem: order each doc's distinct tokens by one GLOBAL canonical
    * order (document frequency ascending, token ascending — rarest first)
    * and take the first p = |d| − ⌈t·|d|⌉ + 1 tokens as its prefix; any
    * pair with J ≥ t must share ≥ 1 PREFIX token (if the prefixes were
    * disjoint, the overlap is at most min(|A|−p_A, |B|−p_B) = ⌈t|A|⌉−1 <
    * t·|union|). So candidates come from an equi self-join on prefix
    * tokens only — the frequency-ascending order pushes stopword-like
    * tokens out of every prefix, which is what bounds bucket sizes the
    * same way banding bounds q32's.
    *
    * The threshold IS the cost dial, and it was measured: this corpus is
    * built of document-count-proportional near-dup blocks, so the TRUE
    * answer at t = 0.5 is quadratic in block size — 92k pairs at sf0.01,
    * ~10 min at sf0.1 (every exact algorithm, including the oracle, pays
    * for its own output). t = 0.9 (the near-dup convention) keeps prefixes
    * at ~10% of tokens and the answer at 9k pairs (sf0.01) — the filter
    * does bounded work BECAUSE the high threshold makes the answer
    * bounded; for J ≥ ½-scale questions the probabilistic q32/q51 family
    * is the right tool.
    *
    * Plan: token explode → DF count (one vocab-sized aggregate) → join
    * freq back (vocab-keyed shuffle) → per-doc sorted array rebuild →
    * prefix explode → equi self-join on token → DISTINCT pairs →
    * candidate-proportional verification (cand ⋈ tokens_a ⋈ tokens_b
    * count join — all relational/codegen'd, no per-pair array lambdas,
    * the q51 lesson). The threshold test is exact integer arithmetic
    * (10·I ≥ 9·U ⟺ J ≥ 0.9) on both engines; the reported jaccard is
    * ratio6.
    *
    * The DuckDB twin is the NAIVE O(n²) algorithm — a deliberately
    * different computation path whose hash-match proves the filter loses
    * nothing (the strongest oracle shape in the registry). PrefixJoinSpec
    * re-proves it in-Spark against a brute-force plan and asserts no
    * CartesianProduct; the naive twin caps the oracle at verify scale,
    * the Spark side stays candidate-proportional.
    */
  val q132PrefixJaccardJoin = Q(
    "q132_prefix_jaccard_join",
    s"""WITH t AS (
      |  SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
      |  FROM documents
      |),
      |p AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    len(list_intersect(a.toks, b.toks)) AS inter,
      |    len(a.toks) + len(b.toks)
      |      - len(list_intersect(a.toks, b.toks)) AS uni
      |  FROM t a JOIN t b ON a.doc_id < b.doc_id
      |)
      |SELECT doc_a, doc_b, inter, uni,
      |  ${graft.functions.Exact.Sql.ratio6("inter", "uni")} AS jaccard
      |FROM p WHERE 10 * inter >= 9 * uni
      |ORDER BY doc_a NULLS FIRST, doc_b NULLS FIRST""".stripMargin,
  ) { (s, d) => prefixJaccardPairs(Fan.fan(Tables.documents(s, d))) }

  /** q132's operator body over any (doc_id, text) frame (suite entry). */
  def prefixJaccardPairs(docs: DataFrame): DataFrame =
    // r21: fan before the token explode — the explode plus the df-count
    // partial aggregate above it otherwise run inside the single-split
    // scan stage (Fan.scala)
    prefixPairsOver(Fan.fan(docs)
      .select(col("doc_id"),
        explode(array_distinct(split(col("text"), " "))).as("tok")))

  /** Interned, canonically-sorted per-doc token-id arrays — the shared
    * build stage of the exact similarity joins (q132 prefix, q170 truth,
    * q185 containment). Global document frequency is the canonical
    * rarity order's sort key, plus an INTERNED integer token id: every
    * downstream stage — prefix join keys, verification arrays — works on
    * longs, never strings (string-keyed array_intersect benched 65 s of
    * the 73 s total at sf0.1; int arrays cut verification ~10×). ANY
    * injective id works — intersection SIZES are invariant to the
    * labeling — so the coordination-free monotonically_increasing_id is
    * safe; the localCheckpoints pin ONE labeling across the consumer
    * branches (ids must not be re-drawn per branch). Two id arrays per
    * doc: CANONICAL (df, tok) order feeds the prefix theorem; NUMERIC
    * order feeds the merge-walk verifier (intersection size is
    * order-blind, and sorting once amortizes over every candidate pair
    * the doc appears in). This is the doc-proportional tokenized form a
    * production run would persist between build and serve.
    */
  private[graft] def internedSorted(tokRows: DataFrame): DataFrame = {
    val freq = tokRows.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      .withColumn("tid", monotonically_increasing_id())
      .localCheckpoint(eager = true) // nondeterministic ids: see Iter
    tokRows.join(freq, "tok")
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("df"), col("tok"),
        col("tid")))).as("st"), count(lit(1)).as("sz"))
      .select(col("doc_id"), col("sz"),
        expr("transform(st, x -> x.tid)").as("tids"),
        expr("sort_array(transform(st, x -> x.tid))").as("stids"))
      .transform(graft.operators.Iter.pin)
  }

  /** The lossless prefix-filter similarity join over ANY per-doc distinct
    * set rows (doc_id, tok) — word tokens for q132, 3-gram shingles for
    * q170's truth side. Set semantics only; the element type just has to
    * be hashable/sortable. */
  def prefixPairsOver(tokRows: DataFrame): DataFrame = {
    val sorted = internedSorted(tokRows)
    // prefix rows carry the 1-based position — fuel for the positional
    // filter below. p = sz − ⌈9·sz/10⌉ + 1 for t = 0.9.
    val prefix = sorted
      .select(col("doc_id"), col("sz"),
        posexplode(expr(
          "slice(tids, 1, CAST(sz - ((9 * sz + 9) div 10) + 1 AS INT))")))
      .select(col("doc_id"), col("sz"), (col("pos") + 1).as("pos"),
        col("col").as("tid"))
    // candidate pruning inside the join condition (PPJoin's two classic
    // refinements — both measured to matter on the block-heavy corpus):
    //  - LENGTH: J ≥ t forces t·|A| ≤ |B| ≤ |A|/t;
    //  - POSITIONAL: a pair first meeting at positions (i, j) can overlap
    //    at most 1 + min(szA−i, szB−j); J ≥ t needs overlap ≥
    //    ⌈t/(1+t)·(szA+szB)⌉ = ⌈9(szA+szB)/19⌉.
    val cand = prefix.as("a").join(prefix.as("b"),
        col("a.tid") === col("b.tid")
          && col("a.doc_id") < col("b.doc_id")
          && col("b.sz") * 10 >= col("a.sz") * 9
          && col("a.sz") * 10 >= col("b.sz") * 9
          && (lit(1) + least(col("a.sz") - col("a.pos"),
               col("b.sz") - col("b.pos"))) * 19
             >= (col("a.sz") + col("b.sz")) * 9)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    // verification: two equi joins pull in the numerically-sorted id
    // ARRAYS and the codegen'd two-pointer merge walk
    // (`graft_sorted_intersect_i64`) scores each candidate exactly once —
    // the built-in array_intersect builds a boxed hash set per pair and
    // benched 12.1 s vs 4.9 s across the 3.3M sf0.1 candidates. (The
    // relational alternative — cand ⋈ tokens_a ⋈ tokens_b → count —
    // re-shuffles candidates × overlap ≈ 10⁸ rows at sf0.1 and benched
    // 179 s. AQE broadcasts the array side at fixture scale; at corpus
    // scale both joins degrade to doc-keyed shuffles that stay
    // candidate-proportional.)
    cand
      .join(sorted.select(col("doc_id"), col("sz").as("sza"),
        col("stids").as("ta")), col("doc_a") === col("doc_id")).drop("doc_id")
      .join(sorted.select(col("doc_id"), col("sz").as("szb"),
        col("stids").as("tb")), col("doc_b") === col("doc_id")).drop("doc_id")
      .select(col("doc_a"), col("doc_b"),
        expr("graft_sorted_intersect_i64(ta, tb)").as("inter"),
        col("sza"), col("szb"))
      .select(col("doc_a"), col("doc_b"), col("inter"),
        (col("sza") + col("szb") - col("inter")).as("uni"))
      .filter(col("inter") * 10 >= col("uni") * 9)
      .select(col("doc_a"), col("doc_b"), col("inter"), col("uni"),
        graft.functions.Exact.ratio6("inter", "uni").as("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** GOLDEN-RECORD construction — the survivorship step AFTER entity
    * resolution (pairs → components → ONE merged master record per
    * entity), the MDM operator every warehouse dedup ends with, here over
    * q74's document dedup clusters (singleton docs included via left join
    * + coalesce, so the output is a TOTAL partition of the corpus — every
    * source row lands in exactly one master record). Field-wise rules,
    * each a deterministic argmin in struct space so ties can't flap
    * between engines or shuffles:
    *  - canonical_id: the component minimum (the q74 label itself);
    *  - golden text: the LONGEST member's text ("most complete"
    *    survivorship), ties to the lexicographically smallest — reported
    *    as md5 + length, min(struct(−length, text));
    *  - modal lang / modal source: most frequent value, ties to the
    *    smallest — min(struct(−count, value)) over per-(component, value)
    *    counts;
    *  - max_chars: numeric max (an exact pick).
    * (Tried first on q96's supplier linkage graph: serial-numbered names
    * sit within edit distance 1 of their neighbors, so transitive closure
    * merges ALL 100 suppliers into one entity — correct algebra, useless
    * master data. ER survivorship needs blocking whose transitive closure
    * is meaningful; the affix clusters are.)
    *
    * Plan: affix pair edges (banded equi joins) → iterative CC
    * (off-driver, loud cap) → two component-keyed aggregates. The DuckDB
    * twin rebuilds the clusters with a recursive-CTE transitive closure
    * (the q74 discipline) and replays the same struct-argmin rules.
    *
    * Timing note (the round-12 verdict's "watch it" item): full-bench
    * sf0.1 readings ran 1.75 → 1.91 → 2.42 s across r11/r12 with NO
    * change to this query's code — and the r13 full bench read 1.55 s,
    * below the original. Two isolated `SPARK_GRAFT_QUERIES=q141` runs
    * (r13, per the save/restore discipline) were 2.85 / 2.75 s —
    * STABLE, and higher than any in-suite reading because a fresh JVM
    * pays the codegen/JIT warm-up the 241-query session amortizes. So
    * the in-suite number is dominated by session warm-up state, the
    * isolated number is flat, and the "creep" does not reproduce as a
    * trend: session noise, no structural regression, nothing to fix.
    */
  val q141GoldenRecord = Q(
    "q141_golden_record",
    """WITH RECURSIVE n AS (
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
      |edges AS (SELECT a, b FROM e0 UNION ALL SELECT b AS a, a AS b FROM e0),
      |nodes AS (SELECT DISTINCT a AS id FROM edges),
      |reach AS (
      |  SELECT id, id AS r FROM nodes
      |  UNION
      |  SELECT e.a AS id, reach.r FROM edges e JOIN reach ON reach.id = e.b
      |),
      |comp0 AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
      |lab AS (
      |  SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars,
      |    coalesce(c0.component, d.doc_id) AS component
      |  FROM documents d LEFT JOIN comp0 c0 ON d.doc_id = c0.id
      |),
      |ml AS (
      |  SELECT component,
      |    (min({'a': -cnt, 'b': lang})).b AS modal_lang
      |  FROM (SELECT component, lang, count(*) AS cnt
      |        FROM lab GROUP BY component, lang) t
      |  GROUP BY component
      |),
      |ms AS (
      |  SELECT component,
      |    (min({'a': -cnt, 'b': source})).b AS modal_source
      |  FROM (SELECT component, source, count(*) AS cnt
      |        FROM lab GROUP BY component, source) t
      |  GROUP BY component
      |),
      |g AS (
      |  SELECT component, CAST(count(*) AS BIGINT) AS n_members,
      |    min(doc_id) AS canonical_id,
      |    md5((min({'a': -length(text), 'b': text})).b) AS golden_md5,
      |    CAST(length((min({'a': -length(text), 'b': text})).b) AS BIGINT)
      |      AS golden_len,
      |    CAST(max(n_chars) AS BIGINT) AS max_chars
      |  FROM lab GROUP BY component
      |)
      |SELECT g.component, g.n_members, g.canonical_id, g.golden_md5,
      |  g.golden_len, ml.modal_lang, ms.modal_source, g.max_chars
      |FROM g JOIN ml ON g.component = ml.component
      |  JOIN ms ON g.component = ms.component
      |ORDER BY g.component NULLS FIRST""".stripMargin,
  ) { (s, d) =>
    val docs = Fan.fan(Tables.documents(s, d))
    val e0 = affixPairs(docs)
    val edges = e0.union(e0.select(col("b").as("a"), col("a").as("b")))
    val lab = docs.join(
        connectedComponents(edges).withColumnRenamed("doc_id", "id"),
        col("doc_id") === col("id"), "left")
      .select(col("doc_id"), col("text"), col("lang"), col("source"),
        col("n_chars"),
        coalesce(col("component"), col("doc_id")).as("component"))
    def modal(field: String, out: String) =
      lab.groupBy(col("component"), col(field))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("component"))
        .agg(min(struct((-col("cnt")).as("a"), col(field).as("b")))
          .getField("b").as(out))
    val g = lab.groupBy(col("component"))
      .agg(count(lit(1)).cast("long").as("n_members"),
        min(col("doc_id")).as("canonical_id"),
        md5(min(struct((-length(col("text"))).as("a"), col("text").as("b")))
          .getField("b")).as("golden_md5"),
        length(min(struct((-length(col("text"))).as("a"),
          col("text").as("b"))).getField("b")).cast("long").as("golden_len"),
        max(col("n_chars")).cast("long").as("max_chars"))
    g.join(modal("lang", "modal_lang"), "component")
      .join(modal("source", "modal_source"), "component")
      .select(col("component"), col("n_members"), col("canonical_id"),
        col("golden_md5"), col("golden_len"), col("modal_lang"),
        col("modal_source"), col("max_chars"))
      .orderBy(col("component"))
  }

  /** EXACT edit-distance ≤ 1 self-join via DELETION NEIGHBORHOODS (the
    * SymSpell/FastSS family) — the fourth exact-join theorem in the
    * registry (set space: q132's prefix filter; Hamming space: q138's
    * pigeonhole; verbatim space: affix bands; EDIT space: this): two
    * strings within one edit share at least one member of each other's
    * {self} ∪ {one-char deletions} neighborhoods (a deletion IS the
    * variant, an insertion is the reverse, a substitution meets at the
    * both-sides deletion of the edited position), so candidates come from
    * an equi self-join on md5(variant) — L+1 keys per name, never an
    * all-pairs product. Sharing a variant is NOT sufficient ("ab"/"ba"
    * share both single-deletion variants at distance 2), so a codegen'd
    * levenshtein verifies each candidate once; sufficiency was never
    * claimed, necessity is what kills false negatives.
    *
    * This is the EXACT upgrade of q96's parity-class blocking (which
    * trades recall for fewer keys, LSH-style): q96's pairs are provably a
    * subset of these (PrefixJoinSpec asserts it on the corpus). Scale:
    * variants are length-proportional (~L per row — the classic space/
    * recall trade vs q96's 2 keys), the join is banded per variant
    * bucket, verification candidate-proportional. The DuckDB twin is the
    * naive quadratic levenshtein join, proving the neighborhood cover
    * lossless on real data.
    */
  val q145EditDistanceJoin = Q(
    "q145_edit_distance_join",
    """WITH v AS (
      |  SELECT s_suppkey, s_name,
      |    unnest(list_transform(range(0, length(s_name) + 1),
      |      i -> CASE WHEN i = 0 THEN s_name
      |           ELSE substr(s_name, 1, i - 1) || substr(s_name, i + 1)
      |           END)) AS var
      |  FROM supplier
      |),
      |cand AS (
      |  SELECT DISTINCT a.s_suppkey AS id_a, b.s_suppkey AS id_b,
      |    a.s_name AS name_a, b.s_name AS name_b
      |  FROM v a JOIN v b
      |  ON md5(a.var) = md5(b.var) AND a.s_suppkey < b.s_suppkey
      |)
      |SELECT id_a, id_b,
      |  CAST(levenshtein(name_a, name_b) AS BIGINT) AS dist
      |FROM cand WHERE levenshtein(name_a, name_b) <= 1
      |ORDER BY id_a NULLS FIRST, id_b NULLS FIRST""".stripMargin,
  ) { (s, d) => editDistancePairs(Tables.supplier(s, d)) }

  /** q145's operator body over any (s_suppkey, s_name) frame. */
  def editDistancePairs(rows: DataFrame): DataFrame = {
    val v = rows.select(col("s_suppkey"), col("s_name"),
      explode(expr(
        """transform(sequence(0, length(s_name)),
          |  i -> CASE WHEN i = 0 THEN s_name
          |       ELSE concat(substr(s_name, 1, i - 1), substr(s_name, i + 1))
          |       END)""".stripMargin)).as("var"))
      .select(col("s_suppkey"), col("s_name"), md5(col("var")).as("k"))
    val cand = v.as("a").join(v.as("b"),
        col("a.k") === col("b.k")
          && col("a.s_suppkey") < col("b.s_suppkey"))
      .select(col("a.s_suppkey").as("id_a"), col("b.s_suppkey").as("id_b"),
        col("a.s_name").as("name_a"), col("b.s_name").as("name_b"))
      .distinct()
    cand
      .select(col("id_a"), col("id_b"),
        levenshtein(col("name_a"), col("name_b")).cast("long").as("dist"))
      .filter(col("dist") <= 1)
      .orderBy(col("id_a"), col("id_b"))
  }

  // ---- q138: exact Hamming-distance join in 48-bit SimHash space ----

  /** Per-nibble hex values (one md5 per token, 12 nibbles = 48 bits) and
    * the 48 signed bit-sums — q33's single-digest trick widened 3×. */
  private val hammingNibbles = (0 until 12).map(k =>
    s"instr('0123456789abcdef', substr(md5(tok), ${k + 1}, 1)) - 1 AS v$k")
  private val hammingSums = (0 until 48).map(j =>
    s"sum(((v${j / 4} >> ${3 - j % 4}) & 1) * 2 - 1) AS s$j")
  private val hammingBitsSql = (0 until 48).map(j =>
    s"(CASE WHEN s$j > 0 THEN CAST(${1L << j} AS BIGINT) " +
      "ELSE CAST(0 AS BIGINT) END)").mkString(" + ")

  /** EXACT Hamming-distance self-join (distance ≤ 3) in 48-bit SimHash
    * space — the third exact-similarity-join theorem in the registry,
    * after q132's prefix filter (set space) and the affix bands (verbatim
    * space): MULTI-INDEX PIGEONHOLE. Split the 48 bits into 4 bands of
    * 12; any pair within Hamming distance 3 has at most 3 differing
    * bands, so at least ONE band matches exactly — candidates come from
    * an equi join on (band index, band value), then one codegen'd
    * `bit_count(xor)` verifies the true distance. Zero false negatives,
    * like q132; the DuckDB twin is again the NAIVE quadratic join over
    * fingerprint classes, so the hash-match proves the pigeonhole filter
    * lossless on real data.
    *
    * Everything operates on DISTINCT fingerprints (the collapseByText
    * discipline in Hamming space): docs collapse to (fingerprint, count)
    * classes first, band joins and verification touch only the ~unique
    * fingerprints, and doc-pair multiplicities re-expand ALGEBRAICALLY
    * (n_a·n_b across classes, C(n,2) within a class at distance 0) — an
    * identical-doc flood grows ONE class count, not the join. The
    * fingerprint itself is q33's multiset SimHash widened to 48 bits
    * (hex-nibble bit extraction, one md5 per token), so near-identical
    * token multisets land within a few bits of each other.
    */
  val q138HammingJoin = Q(
    "q138_simhash_hamming_join",
    s"""WITH toks AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      |  FROM documents
      |),
      |nib AS (
      |  SELECT doc_id, ${hammingNibbles.map(_.replace("instr(", "strpos("))
           .mkString(",\n      |    ")}
      |  FROM toks
      |),
      |sums AS (
      |  SELECT doc_id, ${hammingSums.mkString(",\n      |    ")}
      |  FROM nib GROUP BY doc_id
      |),
      |fp AS (SELECT doc_id, $hammingBitsSql AS f FROM sums),
      |grp AS (SELECT f, count(*) AS n FROM fp GROUP BY f),
      |cross_pairs AS (
      |  SELECT a.f AS f_a, b.f AS f_b,
      |    CAST(bit_count(xor(a.f, b.f)) AS BIGINT) AS hamming,
      |    CAST(a.n AS BIGINT) AS n_a, CAST(b.n AS BIGINT) AS n_b,
      |    CAST(a.n * b.n AS BIGINT) AS n_pairs
      |  FROM grp a JOIN grp b ON a.f < b.f
      |  WHERE bit_count(xor(a.f, b.f)) <= 3
      |),
      |same_class AS (
      |  SELECT f AS f_a, f AS f_b, CAST(0 AS BIGINT) AS hamming,
      |    CAST(n AS BIGINT) AS n_a, CAST(n AS BIGINT) AS n_b,
      |    CAST((n * (n - 1)) // 2 AS BIGINT) AS n_pairs
      |  FROM grp WHERE n >= 2
      |)
      |SELECT * FROM cross_pairs
      |UNION ALL SELECT * FROM same_class
      |ORDER BY f_a NULLS FIRST, f_b NULLS FIRST""".stripMargin,
  ) { (s, d) => hammingPairs(Fan.fan(Tables.documents(s, d))) }

  /** The 48-bit multiset SimHash per doc (suite entry). */
  private[graft] def simhash48(docs: DataFrame): DataFrame = {
    // r21: token explode + 48 nibble extractions fuse into the scan stage
    // — fan first (Fan.scala; no-op on multi-split sources)
    val toks = Fan.fan(docs)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
    val nib = toks.select(
      col("doc_id") +: hammingNibbles.map(expr): _*)
    val sums = nib.groupBy(col("doc_id"))
      .agg(expr(hammingSums.head),
        hammingSums.tail.map(expr): _*)
    sums.select(col("doc_id"), expr(hammingBitsSql).as("f"))
  }

  /** q138's operator body over any (doc_id, text) frame (suite entry). */
  def hammingPairs(docs: DataFrame): DataFrame = {
    val grp = simhash48(docs).groupBy(col("f")).agg(count(lit(1)).as("n"))
    val bands = grp.select(col("f"), col("n"), posexplode(expr(
        "transform(sequence(0, 3), k -> shiftright(f, 12 * k) & 4095)")))
      .select(col("f"), col("n"), col("pos").as("bk"), col("col").as("bv"))
    val cross = bands.as("a").join(bands.as("b"),
        col("a.bk") === col("b.bk") && col("a.bv") === col("b.bv") &&
          col("a.f") < col("b.f"))
      .select(col("a.f").as("f_a"), col("b.f").as("f_b"),
        col("a.n").as("na"), col("b.n").as("nb"))
      .distinct()
      .withColumn("hamming", expr("bit_count(f_a ^ f_b)").cast("long"))
      .filter(col("hamming") <= 3)
      .select(col("f_a"), col("f_b"), col("hamming"),
        col("na").cast("long").as("n_a"), col("nb").cast("long").as("n_b"),
        (col("na") * col("nb")).cast("long").as("n_pairs"))
    val same = grp.filter(col("n") >= 2)
      .select(col("f").as("f_a"), col("f").as("f_b"), lit(0L).as("hamming"),
        col("n").cast("long").as("n_a"), col("n").cast("long").as("n_b"),
        expr("(n * (n - 1)) div 2").cast("long").as("n_pairs"))
    cross.unionAll(same).orderBy(col("f_a"), col("f_b"))
  }

  /** LSH PARAMETER EVALUATION HARNESS — the measurement loop that makes
    * banded MinHash tunable instead of folklore: run q32's ACTUAL banding
    * (B=5, r=3, word-3-gram shingles — the same [[shingleRows]] /
    * [[minhashBands]] / [[candidatePairs]] stages the production dedup
    * runs) and score its CANDIDATE set against the EXACT shingle-Jaccard
    * ≥ 0.9 truth from the lossless prefix-filter join ([[prefixPairsOver]]
    * on the same shingle rows — q132's operator lifted from word tokens
    * to shingle sets). One row out: candidate count, truth count, true
    * positives, recall (the number that decides whether B/r clears the
    * dedup SLO — theory says 1−(1−0.9³)⁵ ≈ 0.9985; the suite net asserts
    * the bound executably), and truth hit-rate among candidates (how much
    * candidate volume the verifier spends below the truth threshold —
    * NOT a defect: the banding deliberately recalls down to J ≈ 0.5,
    * q32's verify threshold).
    *
    * The universe is DISTINCT TEXTS (collapseByText reps). That is the
    * methodologically right evaluation population — identical texts share
    * every signature, so each duplicate pair is a candidate AND a truth
    * pair with certainty; leaving them in pads both sides of the ratio
    * with k²-many guaranteed hits that measure the corpus's duplication
    * factor, not the banding. (A first cut evaluated TOKEN-set banding
    * instead: on this template-heavy corpus token sets are barely
    * discriminative — 9.3M candidates and 964k "truth" pairs at sf0.1,
    * 16.3 s of padding. Shingle space is what q32 actually ships, and
    * its truth set is near-dup-sized.)
    *
    * Plan: both pair generators are banded equi-joins (signatures /
    * interned prefix ids) — no quadratic anywhere on the engine side;
    * the comparison is ONE full-outer join on the pair key and a 1-row
    * aggregate. The DuckDB twin rebuilds the banding verbatim and the
    * truth as the quadratic list_intersect join (independent of the
    * prefix filter — so this oracle ALSO re-proves the prefix join's
    * losslessness on every round, now in shingle space).
    */
  val q170LshRecallEval = Q(
    "q170_lsh_recall_eval",
    s"""WITH r0 AS (
      |  SELECT min(doc_id) AS doc_id, text FROM documents GROUP BY text
      |),
      |tk AS (
      |  SELECT doc_id,
      |    list_distinct(list_transform(
      |      range(1, len(string_split(text, ' ')) - 2 + 1),
      |      i -> string_split(text, ' ')[i] || ' '
      |        || string_split(text, ' ')[i+1] || ' '
      |        || string_split(text, ' ')[i+2])) AS toks
      |  FROM r0 WHERE len(string_split(text, ' ')) >= 3
      |),
      |dig AS (
      |  SELECT doc_id,
      |    list_transform(toks, s ->
      |      [md5('0|' || s), md5('1|' || s), md5('2|' || s), md5('3|' || s)]) AS digs
      |  FROM tk
      |),
      |bands AS (
      |  SELECT doc_id, b,
      |    list_min(list_transform(digs, a ->
      |      substr(a[(b*3 + 0) // 4 + 1], ((b*3 + 0) % 4) * 8 + 1, 8))) AS s0,
      |    list_min(list_transform(digs, a ->
      |      substr(a[(b*3 + 1) // 4 + 1], ((b*3 + 1) % 4) * 8 + 1, 8))) AS s1,
      |    list_min(list_transform(digs, a ->
      |      substr(a[(b*3 + 2) // 4 + 1], ((b*3 + 2) % 4) * 8 + 1, 8))) AS s2
      |  FROM dig, (SELECT unnest(range(0,5)) AS b)
      |),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
      |  FROM bands a JOIN bands c ON a.b = c.b
      |    AND a.s0 = c.s0 AND a.s1 = c.s1 AND a.s2 = c.s2
      |    AND a.doc_id < c.doc_id
      |),
      |truth AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM tk a JOIN tk b ON a.doc_id < b.doc_id
      |  WHERE 10 * len(list_intersect(a.toks, b.toks))
      |    >= 9 * (len(a.toks) + len(b.toks)
      |      - len(list_intersect(a.toks, b.toks)))
      |),
      |j AS (
      |  SELECT coalesce(c.c, 0) AS c, coalesce(t.t, 0) AS t
      |  FROM (SELECT doc_a, doc_b, 1 AS c FROM cand) c
      |  FULL OUTER JOIN (SELECT doc_a, doc_b, 1 AS t FROM truth) t
      |    ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b
      |)
      |SELECT CAST(sum(c) AS BIGINT) AS n_candidates,
      |  CAST(sum(t) AS BIGINT) AS n_truth,
      |  CAST(sum(c * t) AS BIGINT) AS n_tp,
      |  ${graft.functions.Exact.Sql.ratio6("sum(c * t)", "sum(t)")}
      |    AS recall,
      |  ${graft.functions.Exact.Sql.ratio6("sum(c * t)", "sum(c)")}
      |    AS hit_rate
      |FROM j""".stripMargin,
  ) { (s, d) =>
    val (reps, _) = collapseByText(
      Fan.fan(Tables.documents(s, d)).select(col("doc_id"), col("text")))
    val dsh = shingleRows(reps)
    val cand = candidatePairs(minhashBands(dsh))
      .select(col("doc_a"), col("doc_b")).withColumn("c", lit(1L))
    val truth = prefixPairsOver(dsh.withColumnRenamed("sh", "tok"))
      .select(col("doc_a"), col("doc_b")).withColumn("t", lit(1L))
    cand.join(truth, Seq("doc_a", "doc_b"), "full_outer")
      .select(coalesce(col("c"), lit(0L)).as("c"),
        coalesce(col("t"), lit(0L)).as("t"))
      .agg(sum(col("c")).as("n_candidates"), sum(col("t")).as("n_truth"),
        sum(col("c") * col("t")).as("n_tp"))
      .select(col("n_candidates"), col("n_truth"), col("n_tp"),
        graft.functions.Exact.ratio6("n_tp", "n_truth").as("recall"),
        graft.functions.Exact.ratio6("n_tp", "n_candidates").as("hit_rate"))
  }

  /** INGEST-ORDER NOVELTY SCORING — the directional complement of q86's
    * symmetric duplicate-8-gram fraction: attribute each shared 8-gram to
    * its FIRST occurrence (min doc_id — the ingest-order arrival proxy),
    * so every doc scores the fraction of its grams it introduced to the
    * corpus. Originals keep novelty 1.0 while their copies drop toward 0 —
    * exactly the asymmetry a keep-first dedup policy (q31) and a crawl
    * frontier ("is this feed still producing new content?") need, and
    * what q86 cannot express. `low_novelty` flags majority-recycled docs
    * via the pure-integer comparison 2·n_novel < n_grams (no float
    * threshold to drift).
    *
    * Plan: the q86 single-pass shape — per-doc array_distinct BEFORE the
    * explode (no shuffled DISTINCT), one gram-partitioned window carrying
    * min(doc_id) alongside the rows, one doc-keyed aggregate. Gram rows
    * shuffle once; nothing quadratic.
    */
  val q175NgramNovelty = Q(
    "q175_ngram_novelty",
    s"""WITH tok AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
      |),
      |g AS (
      |  SELECT doc_id,
      |    unnest(list_distinct(list_transform(range(1, len(toks) - 6),
      |      i -> md5(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' '
      |        || toks[i+3] || ' ' || toks[i+4] || ' ' || toks[i+5] || ' '
      |        || toks[i+6] || ' ' || toks[i+7])))) AS gram
      |  FROM tok WHERE len(toks) >= 8
      |),
      |f AS (SELECT gram, min(doc_id) AS first_doc FROM g GROUP BY gram)
      |SELECT g.doc_id, count(*) AS n_grams,
      |  count(*) FILTER (WHERE f.first_doc = g.doc_id) AS n_novel,
      |  ${graft.functions.Exact.Sql.ratio6(
          "count(*) FILTER (WHERE f.first_doc = g.doc_id)", "count(*)")}
      |    AS novelty,
      |  2 * count(*) FILTER (WHERE f.first_doc = g.doc_id) < count(*)
      |    AS low_novelty
      |FROM g JOIN f ON g.gram = f.gram
      |GROUP BY g.doc_id
      |ORDER BY g.doc_id NULLS FIRST""".stripMargin,
  ) { (s, d) =>
    val n = 8
    val grams = Fan.fan(Tables.documents(s, d))
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= n)
      .select(col("doc_id"),
        explode(array_distinct(transform(
          sequence(lit(1), size(col("toks")) - (n - 1)),
          i => concat_ws(" ",
            (0 until n).map(k => element_at(col("toks"), i + k)): _*))))
          .as("raw"))
      .select(col("doc_id"), md5(col("raw")).as("gram"))
    // first occurrence rides the same gram-partitioned window pass that
    // carries the rows (the q86 idiom — no groupBy+join re-instantiating
    // the tokenize+md5 subtree)
    grams
      .withColumn("first_doc",
        min(col("doc_id")).over(Window.partitionBy(col("gram"))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        count(when(col("first_doc") === col("doc_id"), lit(1)))
          .as("n_novel"))
      .select(col("doc_id"), col("n_grams"), col("n_novel"),
        graft.functions.Exact.ratio6("n_novel", "n_grams").as("novelty"),
        (lit(2) * col("n_novel") < col("n_grams")).as("low_novelty"))
      .orderBy(col("doc_id"))
  }

  /** EXACT CONTAINMENT JOIN — the asymmetric dedup relation Jaccard
    * structurally misses: doc A is CONTAINED in doc B when B carries
    * ≥ 90% of A's word-3-gram SHINGLE set (|A∩B| ≥ ⌈0.9·|A|⌉), the
    * quote / wrapper / doc-plus-boilerplate shape where a short text
    * lives inside a longer one — Jaccard divides by the UNION, so a
    * 100-shingle quote inside a 1000-shingle page scores J ≈ 0.1 and
    * q132 rightly ignores it, while its containment is 1.0 and a
    * curation pipeline wants it gone (or credited). Shingle sets, not
    * token sets, are the unit: token containment measures VOCABULARY
    * overlap and drowns on a template corpus (measured: 79,347 "pairs"
    * at sf0.01 and 8.3M at sf0.1 — vocabulary reuse, not text reuse);
    * shingle containment finds 50 / scale-proportional true pairs.
    * Output: every ordered (contained, container) pair with the exact
    * overlap and containment ratio.
    *
    * Lossless candidate generation is the ONE-SIDED prefix theorem: if
    * |A∩B| ≥ ⌈t·|A|⌉ then B contains at least one of A's first
    * |A| − ⌈t·|A|⌉ + 1 canonical-rarest shingles — so A-side PREFIX rows
    * join against B's FULL shingle rows (no prefix on the container
    * side: B's size gives no pruning in asymmetric containment; the only
    * B-side filter is |B| ≥ ⌈t·|A|⌉, applied in the join). Rarity-first
    * canonical order keeps the A-prefix shingles low-df, which is what
    * bounds the candidate fan-out. Verification is the shared codegen'd
    * merge walk over numerically-sorted id arrays ([[internedSorted]] —
    * the same build stage as q132, so a production run amortizes one
    * tokenized index across both joins).
    *
    * Self-pairs are excluded; mutual containment (exact/near dups)
    * appears in BOTH orientations by definition — the consumer dedups
    * against q132 if it wants proper-containment only.
    */
  val q185ContainmentJoin = Q(
    "q185_containment_join",
    s"""WITH t AS (
      |  SELECT doc_id,
      |    list_distinct(list_transform(
      |      range(1, len(string_split(text, ' ')) - 2 + 1),
      |      i -> string_split(text, ' ')[i] || ' '
      |        || string_split(text, ' ')[i+1] || ' '
      |        || string_split(text, ' ')[i+2])) AS toks
      |  FROM documents WHERE len(string_split(text, ' ')) >= 3
      |),
      |p AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    len(list_intersect(a.toks, b.toks)) AS inter,
      |    len(a.toks) AS sz_a, len(b.toks) AS sz_b
      |  FROM t a JOIN t b ON a.doc_id <> b.doc_id
      |)
      |SELECT doc_a, doc_b, inter, sz_a, sz_b,
      |  ${graft.functions.Exact.Sql.ratio6("inter", "sz_a")} AS containment
      |FROM p WHERE 10 * inter >= 9 * sz_a
      |ORDER BY doc_a NULLS FIRST, doc_b NULLS FIRST""".stripMargin,
  ) { (s, d) =>
    containmentPairs(Fan.fan(Tables.documents(s, d))
      .select(col("doc_id"), col("text")))
  }

  /** q185's operator body over any (doc_id, text) frame (suite entry). */
  private[graft] def containmentPairs(docs: DataFrame): DataFrame = {
    val sorted = internedSorted(
      shingleRows(docs).withColumnRenamed("sh", "tok"))
    // A-side prefix rows: first sz − ⌈9·sz/10⌉ + 1 canonical-rarest ids
    val prefixA = sorted
      .select(col("doc_id").as("doc_a"), col("sz").as("sz_a"),
        explode(expr(
          "slice(tids, 1, CAST(sz - ((9 * sz + 9) div 10) + 1 AS INT))"))
          .as("tid"))
    // container side: FULL token rows (one-sided theorem) + size filter
    val fullB = sorted
      .select(col("doc_id").as("doc_b"), col("sz").as("sz_b"),
        explode(col("tids")).as("tid"))
    val cand = prefixA.join(fullB,
        prefixA("tid") === fullB("tid")
          && col("doc_a") =!= col("doc_b")
          && col("sz_b") * 10 >= col("sz_a") * 9)
      .select(col("doc_a"), col("doc_b")).distinct()
    cand
      .join(sorted.select(col("doc_id"), col("sz").as("sz_a"),
        col("stids").as("ta")), col("doc_a") === col("doc_id")).drop("doc_id")
      .join(sorted.select(col("doc_id"), col("sz").as("sz_b"),
        col("stids").as("tb")), col("doc_b") === col("doc_id")).drop("doc_id")
      .select(col("doc_a"), col("doc_b"),
        expr("graft_sorted_intersect_i64(ta, tb)").as("inter"),
        col("sz_a"), col("sz_b"))
      .filter(col("inter") * 10 >= col("sz_a") * 9)
      .select(col("doc_a"), col("doc_b"), col("inter"), col("sz_a"),
        col("sz_b"),
        graft.functions.Exact.ratio6("inter", "sz_a").as("containment"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** EXACT SUBSTRING-DUPLICATION detection — the "50-token verbatim
    * overlap" curation rule (the span-dedup threshold the training-data
    * dedup literature standardized on) made DETERMINISTIC: every doc pair
    * sharing a contiguous run of ≥ 50 identical tokens is reported, with
    * the exact count of distinct shared 50-token windows. This is the
    * exact complement of q116's winnowing: q116 samples content-defined
    * anchors at 1/16 density (each ~300-char 50-token span carries ~15
    * expected anchors, so q116 flags it with probability ≈ 1 − (15/16)^15
    * ≈ 0.62 per isolated span — high but not certain, and its unit is the
    * 50-CHAR window), while this operator's guarantee is one-sided and
    * total at its own threshold: zero false negatives, zero false
    * positives. Pairs q187 reports share ≥ 50 verbatim tokens and hence
    * dozens of q116-style char windows; the converse does not hold (a
    * 50-char overlap is far below 50 tokens), which is why both exist.
    *
    * The exactness device is the PIGEONHOLE GRID (the aligned-block
    * lemma): any 50-token window of doc A contains at least one COMPLETE
    * 8-gram from A's stride-43 grid (43 = 50 − 8 + 1; an interval of
    * length ≥ k + 7 always contains a grid-aligned 8-block), and its
    * verbatim copy in B sits at SOME offset — so grid-8-grams of the
    * smaller-id doc joined against ALL-position 8-grams of the larger-id
    * doc is a lossless candidate generator. Each candidate then verifies
    * and extends IN PLACE: the longest common run through the anchor
    * (token-exact zip_with/array_position LCP on bounded ≤50-token
    * slices, xxhash64 collisions eliminated here) certifies span ≥ 50
    * iff the pair truly shares one. Only then are full 50-gram window
    * hashes enumerated — restricted to CONFIRMED-paired docs, so the
    * window-enumeration stage is answer-proportional, not
    * corpus-proportional (the naive form the DuckDB twin runs).
    *
    * Plan at 100 TB: the sliding 8-gram index is position-proportional
    * (inherent — any position can start a unique shared window) but
    * hashes 8-token grams, not 50-token windows (≈ 6× less hash input
    * than naive), and shuffles only (doc, pos, int64) rows; the grid side
    * is positions/43. Extension is candidate-proportional with hard
    * 50-token slice caps. KNOWN HOT SPOT (the q132/LshFlood discipline):
    * an 8-token boilerplate phrase present in M docs yields ~M²/43
    * candidates without any true 50-token overlap — the production dials
    * are a longer anchor gram (G = 16, k = 35 — same lemma) and q31-style
    * exact-dup pre-collapse; at this corpus' block structure the 8/43
    * geometry measured candidate-proportional. Twin replay bound: the
    * oracle enumerates every 50-gram of every ≥50-token doc — fine at
    * verify scale, and exactly the corpus-proportional cost this plan's
    * paired-docs restriction avoids.
    */
  val q187SubstringDup = Q(
    "q187_substring_dup",
    """WITH t AS (
      |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents
      |  WHERE len(string_split(text, ' ')) >= 50
      |),
      |g AS (
      |  SELECT DISTINCT doc_id, md5(array_to_string(tk[i:i+49], ' ')) AS h
      |  FROM (SELECT doc_id, tk, unnest(range(1, len(tk) - 48)) AS i FROM t)
      |)
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |  CAST(count(*) AS BIGINT) AS n_shared50
      |FROM g a JOIN g b ON a.h = b.h AND a.doc_id < b.doc_id
      |GROUP BY 1, 2
      |ORDER BY doc_a NULLS FIRST, doc_b NULLS FIRST""".stripMargin,
  ) { (s, d) => substringDupPairs(Fan.fan(Tables.documents(s, d))) }

  // q187 geometry: W-token rule, G-token anchors, stride K = W − G + 1.
  private val SubW = 50
  private val SubG = 8
  private val SubK = SubW - SubG + 1

  /** Token arrays of the ≥w-token docs — the verify/window half of q187
    * (doc-proportional). */
  private[graft] def substringTokens(
      docs: DataFrame, w: Int = SubW): DataFrame =
    docs
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
      .withColumn("n", size(col("tk")))
      .filter(col("n") >= w)

  private def subGram8(tk: Column, p: Column): Column =
    xxhash64(concat_ws(" ", slice(tk, p, lit(SubG))))

  /** Stride-k grid anchor rows (positions/k — the small candidate side). */
  private[graft] def substringGridRows(
      t: DataFrame, k: Int = SubK): DataFrame =
    t.select(col("doc_id"), col("tk"),
        explode(sequence(lit(1), col("n") - (SubG - 1), lit(k))).as("p"))
      .select(col("doc_id"), col("p"), subGram8(col("tk"), col("p")).as("h8"))

  /** All-position anchor rows (position-proportional — the big half). */
  private[graft] def substringSlideRows(t: DataFrame): DataFrame =
    t.select(col("doc_id"), col("tk"),
        explode(sequence(lit(1), col("n") - (SubG - 1))).as("p"))
      .select(col("doc_id"), col("p"), subGram8(col("tk"), col("p")).as("h8"))

  // token-exact longest-common-prefix of two bounded slices: zip_with
  // pads the shorter side with NULL, <=> turns the pad into false, so
  // the LCP never runs past either doc's end. All codegen'd built-ins.
  private def subLcp(x: Column, y: Column): Column = {
    val eq = zip_with(x, y, (p, q) => p <=> q)
    val fpos = array_position(eq, lit(false))
    when(fpos === 0L, size(eq).cast("long")).otherwise(fpos - 1L)
  }

  /** Candidate (doc_a, i, doc_b, j) anchor matches → verified distinct
    * pairs. Right-run R counts matching tokens from the anchor start
    * (cap W — all the certificate needs), left-run L counts matching
    * tokens strictly left of it (cap W − G; both clamped at doc start).
    * L + R ≥ W with R ≥ G ⟺ a genuine ≥W-token verbatim run passes
    * through this anchor; the pigeonhole lemma guarantees every true
    * pair produces at least one such candidate. */
  private def subVerifiedPairs(cand: DataFrame, toks: DataFrame,
      w: Int = SubW): DataFrame = {
    val ga = greatest(col("i") - (w - SubG), lit(1))
    val gb = greatest(col("j") - (w - SubG), lit(1))
    cand
      .join(toks.select(col("doc_id"), col("tk").as("ta")),
        col("doc_a") === col("doc_id")).drop("doc_id")
      .join(toks.select(col("doc_id"), col("tk").as("tb")),
        col("doc_b") === col("doc_id")).drop("doc_id")
      .select(col("doc_a"), col("doc_b"),
        subLcp(slice(col("ta"), col("i"), lit(w)),
          slice(col("tb"), col("j"), lit(w))).as("r"),
        subLcp(reverse(slice(col("ta"), ga, col("i") - ga)),
          reverse(slice(col("tb"), gb, col("j") - gb))).as("l"))
      .filter(col("r") >= SubG && col("l") + col("r") >= w)
      .select(col("doc_a"), col("doc_b")).distinct()
  }

  /** Answer-proportional window enumeration: full W-gram hash sets for
    * CONFIRMED-paired docs only, then one hash-equi count join per pair
    * (both sides distinct per (doc, h) → count(*) = |shared window set|). */
  private def subWindowCounts(pairs: DataFrame, toks: DataFrame,
      w: Int = SubW): DataFrame = {
    val paired = pairs
      .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .distinct()
    val g50 = toks.join(paired, "doc_id")
      .select(col("doc_id"), col("tk"),
        explode(sequence(lit(1), col("n") - (w - 1))).as("p"))
      .select(col("doc_id"),
        md5(concat_ws(" ", slice(col("tk"), col("p"), lit(w)))).as("h50"))
      .distinct()
    pairs
      .join(g50.select(col("doc_id"), col("h50")),
        col("doc_a") === col("doc_id")).drop("doc_id")
      .join(g50.select(col("doc_id"), col("h50").as("h50b")),
        col("doc_b") === col("doc_id") && col("h50") === col("h50b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).cast("long").as("n_shared50"))
  }

  /** q187's operator body over any (doc_id, text) frame (suite entry). */
  private[graft] def substringDupPairs(docs: DataFrame): DataFrame = {
    val t = substringTokens(docs)
      .transform(graft.operators.Iter.pin) // 4 consumers: grid, slide, verify arrays, windows
    val grid = substringGridRows(t)
      .select(col("doc_id").as("doc_a"), col("p").as("i"), col("h8"))
    val slide = substringSlideRows(t)
      .select(col("doc_id").as("doc_b"), col("p").as("j"), col("h8"))
    val cand = grid.join(slide,
        grid("h8") === slide("h8") && col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("i"), col("doc_b"), col("j"))
    subWindowCounts(subVerifiedPairs(cand, t), t)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** EXACT SUBSTRING DECONTAMINATION — benchmark leakage detection by the
    * VERBATIM-OVERLAP rule: a corpus document is contaminated when it
    * shares a contiguous run of ≥ 25 identical tokens with any eval-set
    * document (q66's doc_id % 7 eval convention). This is the strict
    * complement of q66: q66 flags ANY shared distinct 5-gram (high
    * sensitivity, catches paraphrase-adjacent reuse and common phrases
    * alike), while this operator certifies an actual verbatim passage —
    * the decontamination rule the train/test-overlap literature applies
    * before attributing benchmark wins. 25 tokens (half the q187 dedup
    * threshold) because leakage detection wants MORE sensitivity than
    * dedup: a quoted half-paragraph contaminates even when the documents
    * are otherwise unrelated.
    *
    * The asymmetry inverts q187's join orientation the cheap way: the
    * CORPUS (the huge side at 100 TB) contributes only stride-18 GRID
    * anchors (positions/18 — 25 − 8 + 1 = 18 keeps the pigeonhole lemma:
    * any 25-token span contains a grid-aligned 8-gram), while the SMALL
    * eval set pays the all-position slide index. The equi join, the
    * LCP-extension certificate, and the answer-proportional window count
    * are q187's machinery parameterized at w = 25.
    *
    * Output: every (corpus doc, eval doc) pair with a certified ≥25-token
    * verbatim overlap and the exact count of distinct shared 25-token
    * windows — the audit row a curation pipeline attaches to its drop
    * decision.
    */
  val q191SubstringDecontaminate = Q(
    "q191_substring_decontaminate",
    """WITH t AS (
      |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents
      |  WHERE len(string_split(text, ' ')) >= 25
      |),
      |g AS (
      |  SELECT DISTINCT doc_id, md5(array_to_string(tk[i:i+24], ' ')) AS h
      |  FROM (SELECT doc_id, tk, unnest(range(1, len(tk) - 23)) AS i FROM t)
      |),
      |ev AS (SELECT doc_id AS eval_id, h FROM g WHERE doc_id % 7 = 0),
      |co AS (SELECT doc_id, h FROM g WHERE doc_id % 7 <> 0)
      |SELECT co.doc_id, ev.eval_id,
      |  CAST(count(*) AS BIGINT) AS n_shared25
      |FROM co JOIN ev ON co.h = ev.h
      |GROUP BY 1, 2
      |ORDER BY doc_id NULLS FIRST, eval_id NULLS FIRST""".stripMargin,
  ) { (s, d) =>
    substringContamination(Fan.fan(Tables.documents(s, d)))
  }

  /** q191's operator body over any (doc_id, text) frame (suite entry). */
  private[graft] def substringContamination(docs: DataFrame): DataFrame = {
    val w = 25
    val t = substringTokens(docs, w).transform(graft.operators.Iter.pin)
    val corpus = t.filter(col("doc_id") % 7 =!= 0)
    val eval = t.filter(col("doc_id") % 7 === 0)
    val grid = substringGridRows(corpus, k = w - SubG + 1)
      .select(col("doc_id").as("doc_a"), col("p").as("i"), col("h8"))
    val slide = substringSlideRows(eval)
      .select(col("doc_id").as("doc_b"), col("p").as("j"), col("h8"))
    val cand = grid.join(slide, grid("h8") === slide("h8"))
      .select(col("doc_a"), col("i"), col("doc_b"), col("j"))
    subWindowCounts(subVerifiedPairs(cand, t, w), t, w)
      .select(col("doc_a").as("doc_id"), col("doc_b").as("eval_id"),
        col("n_shared50").as("n_shared25"))
      .orderBy(col("doc_id"), col("eval_id"))
  }

  /** DUP-CLUSTER SIZE SPECTRUM — the distributional readout q31's
    * exact dedup only summarizes: how many clusters of each size, how
    * many documents they hold, and what fraction of the corpus is
    * redundant (size − 1 per cluster). The spectrum's SHAPE is the
    * actionable part — a fat tail of huge clusters means boilerplate/
    * template contamination (dedup first, then near-dup); a thin
    * size-2 fringe means organic reposts (MinHash is enough). The
    * capacity-planning input for every q32-family run.
    *
    * Exactness: pure integer counting end to end (the q31 hash is the
    * cluster key verbatim — same first-50-chars lowercase prefix);
    * shares ride ratio6 (doc counts ≪ its 4.6·10¹² line at any
    * realistic corpus). Empty corpus → empty output.
    *
    * Plan: two hash aggregates (doc → cluster → size spectrum) and a
    * window total over the ≤max-cluster-size-row spectrum frame — the
    * q197 idiom on a provably tiny relation. One scan.
    */
  val q305DupClusterSpectrum = Q(
    "q305_dup_cluster_spectrum",
    s"""WITH c AS (
      |  SELECT sha256(lower(substr(text, 1, 50))) AS h,
      |    CAST(count(*) AS BIGINT) AS sz
      |  FROM documents GROUP BY 1
      |),
      |sp AS (
      |  SELECT sz, CAST(count(*) AS BIGINT) AS n_clusters
      |  FROM c GROUP BY 1
      |),
      |t AS (
      |  SELECT sz, n_clusters,
      |    CAST(sum(sz * n_clusters) OVER () AS BIGINT) AS docs
      |  FROM sp
      |)
      |SELECT sz AS cluster_size, n_clusters,
      |  sz * n_clusters AS n_docs,
      |  ${graft.functions.Exact.Sql.ratio6("sz * n_clusters", "docs")}
      |    AS doc_share,
      |  (sz - 1) * n_clusters AS redundant_docs,
      |  ${graft.functions.Exact.Sql.ratio6("(sz - 1) * n_clusters",
           "docs")} AS redundant_share
      |FROM t
      |ORDER BY cluster_size""".stripMargin,
  ) { (s, d) =>
    val c = Fan.fan(Tables.documents(s, d))
      .groupBy(sha2(lower(substring(col("text"), 1, 50)), 256).as("h"))
      .agg(count(lit(1)).cast("long").as("sz"))
    val sp = c.groupBy(col("sz"))
      .agg(count(lit(1)).cast("long").as("n_clusters"))
    val t = sp.select(col("sz"), col("n_clusters"),
      sum(col("sz") * col("n_clusters")).over(Window.partitionBy())
        .cast("long").as("docs"))
    t.select(col("sz").as("cluster_size"), col("n_clusters"),
        (col("sz") * col("n_clusters")).as("n_docs"),
        graft.functions.Exact.ratio6("sz * n_clusters", "docs")
          .as("doc_share"),
        ((col("sz") - 1) * col("n_clusters")).as("redundant_docs"),
        graft.functions.Exact.ratio6("(sz - 1) * n_clusters", "docs")
          .as("redundant_share"))
      .orderBy(col("cluster_size"))
  }

  /** CHUNK-GRAIN DUP SPECTRUM — q305's readout at the grain a RAG corpus
    * actually serves: q83's fixed 200-char/150-stride chunker feeds an
    * exact-duplicate cluster spectrum PER SOURCE (boilerplate chunks —
    * headers, footers, license blocks — recur across DISTINCT documents,
    * so doc-level dedup (q31/q305) cannot see them; the retrieval index
    * stores chunks, so chunk-grain redundancy is what the embedding
    * budget pays for). Clusters are within-source BY DESIGN (stated): a
    * chunk recurring in two sources counts once per source, because each
    * source's redundant share is that source's own curation dial.
    *
    * Exactness: chunk identity via md5 of the exact substring (bit-equal
    * both engines, q83's device); counts exact int64; shares are ratio6
    * of counts. Empty docs chunk to nothing on both engines (q83's
    * sequence guard).
    *
    * Plan: one explode (no shuffle), one (source, hash) hash aggregate,
    * one (source, size) aggregate, a per-source window over the
    * spectrum-sized frame. Nothing chunk-proportional after the first
    * aggregate; no sort touches chunk rows.
    */
  val q318ChunkDupSpectrum = Q(
    "q318_chunk_dup_spectrum",
    s"""WITH ch AS (
      |  SELECT z.source,
      |    md5(substr(z.text, CAST(z.cs + 1 AS INTEGER), 200)) AS h
      |  FROM (
      |    SELECT source, text,
      |      unnest(generate_series(0, length(text) - 1, 150)) AS cs
      |    FROM documents
      |    WHERE source IS NOT NULL AND length(text) > 0) z
      |),
      |cl AS (
      |  SELECT source, h, CAST(count(*) AS BIGINT) AS sz
      |  FROM ch GROUP BY 1, 2
      |),
      |sp AS (
      |  SELECT source, sz, CAST(count(*) AS BIGINT) AS n_clusters
      |  FROM cl GROUP BY 1, 2
      |),
      |t AS (
      |  SELECT source, sz, n_clusters,
      |    CAST(sum(sz * n_clusters) OVER (PARTITION BY source)
      |      AS BIGINT) AS chunks
      |  FROM sp
      |)
      |SELECT source, sz AS cluster_size, n_clusters,
      |  sz * n_clusters AS n_chunks,
      |  ${graft.functions.Exact.Sql.ratio6("sz * n_clusters", "chunks")}
      |    AS chunk_share,
      |  (sz - 1) * n_clusters AS redundant_chunks,
      |  ${graft.functions.Exact.Sql.ratio6("(sz - 1) * n_clusters",
           "chunks")} AS redundant_share
      |FROM t
      |ORDER BY source NULLS FIRST, cluster_size""".stripMargin,
  ) { (s, d) =>
    val ch = Fan.fan(Tables.documents(s, d))
      .filter(col("source").isNotNull && length(col("text")) > 0)
      .select(col("source"), col("text"),
        explode(sequence(lit(0L), (length(col("text")) - 1).cast("long"),
          lit(150L))).as("cs"))
      .select(col("source"),
        md5(expr("substring(text, CAST(cs + 1 AS INT), 200)")).as("h"))
    val cl = ch.groupBy(col("source"), col("h"))
      .agg(count(lit(1)).cast("long").as("sz"))
    val sp = cl.groupBy(col("source"), col("sz"))
      .agg(count(lit(1)).cast("long").as("n_clusters"))
    val t = sp.select(col("source"), col("sz"), col("n_clusters"),
      sum(col("sz") * col("n_clusters"))
        .over(Window.partitionBy(col("source"))).cast("long").as("chunks"))
    t.select(col("source"), col("sz").as("cluster_size"), col("n_clusters"),
        (col("sz") * col("n_clusters")).as("n_chunks"),
        graft.functions.Exact.ratio6("sz * n_clusters", "chunks")
          .as("chunk_share"),
        ((col("sz") - 1) * col("n_clusters")).as("redundant_chunks"),
        graft.functions.Exact.ratio6("(sz - 1) * n_clusters", "chunks")
          .as("redundant_share"))
      .orderBy(col("source"), col("cluster_size"))
  }

  /** CHUNK-GRAIN MINHASH NEAR-DUP — q32's banded pipeline pointed at the
    * CHUNK grain (the r15 verdict's composition): q83's chunker → the
    * flood-mitigation exact pre-collapse ([[collapseByText]]'s shape,
    * here with provenance counts) → shingle/band/verify over DISTINCT
    * chunk texts only → REP-level verified pairs with full provenance.
    *
    * The output stays at REPRESENTATIVE grain deliberately — the inverse
    * of q32's expandPairs: boilerplate chunks recur thousands of times
    * across documents, and expanding a verified near-dup pair of two
    * 1000-copy chunks to 10⁶ member pairs is exactly the flood the
    * pre-collapse exists to prevent. Each endpoint instead carries
    * (copies, docs): how many chunk occurrences and how many DISTINCT
    * documents that exact text stands for — the numbers a curation
    * decision actually reads. Chunk ids encode provenance arithmetically:
    * uid = doc_id·2²⁰ + chunk_id (chunk_id < 2²⁰ ⇔ docs < 157 MB at the
    * 150 stride — the bound is ENFORCED by a raise_error guard on the
    * chunk index (r17 ADVICE: an over-long doc fails loudly instead of
    * silently mis-attributing provenance)), split back in the output.
    *
    * Exactness: q32's verbatim hashing layout (4 md5/shingle sliced into
    * 15 of 16 32-bit components, B=5 × r=3), exact word-3-gram Jaccard
    * ≥ 0.5 through ratio6 — every stage bit-identical cross-engine.
    * Sub-3-word chunks shingle to nothing on both engines (Spark's
    * size ≥ 3 filter; DuckDB's empty list_min → NULL signatures that
    * cannot equi-join).
    *
    * Plan: explode (no shuffle) → one text-hash aggregate (the collapse)
    * → the q32 bucket equi-joins — candidates bounded by distinct-text
    * count per bucket regardless of duplication factor; no cartesian
    * (ScaleSpec). At 100 TB the reps frame IS the persisted exact-dedup
    * output, so the near-dup pass starts from stored state, not a rescan.
    */
  val q319ChunkNeardup = Q(
    "q319_chunk_neardup",
    s"""WITH ch AS (
      |  SELECT z.doc_id * 1048576 + z.cs // 150 AS uid,
      |    substr(z.text, CAST(z.cs + 1 AS INTEGER), 200) AS text
      |  FROM (
      |    SELECT doc_id, text,
      |      unnest(generate_series(0, length(text) - 1, 150)) AS cs
      |    FROM documents WHERE length(text) > 0) z
      |),
      |grp AS (
      |  SELECT text, CAST(min(uid) AS BIGINT) AS rep_id,
      |    CAST(count(*) AS BIGINT) AS copies,
      |    CAST(count(DISTINCT uid // 1048576) AS BIGINT) AS docs
      |  FROM ch GROUP BY 1
      |),
      |sh AS (
      |  SELECT rep_id AS doc_id,
      |    list_distinct(list_transform(range(1, len(string_split(text,' ')) - 2 + 1),
      |      i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1]
      |        || ' ' || string_split(text,' ')[i+2])) AS shingles
      |  FROM grp
      |),
      |dig AS (
      |  SELECT doc_id,
      |    list_transform(shingles, s ->
      |      [md5('0|' || s), md5('1|' || s), md5('2|' || s), md5('3|' || s)]) AS digs
      |  FROM sh
      |),
      |bands AS (
      |  SELECT doc_id, b,
      |    list_min(list_transform(digs, a ->
      |      substr(a[(b*3 + 0) // 4 + 1], ((b*3 + 0) % 4) * 8 + 1, 8))) AS s0,
      |    list_min(list_transform(digs, a ->
      |      substr(a[(b*3 + 1) // 4 + 1], ((b*3 + 1) % 4) * 8 + 1, 8))) AS s1,
      |    list_min(list_transform(digs, a ->
      |      substr(a[(b*3 + 2) // 4 + 1], ((b*3 + 2) % 4) * 8 + 1, 8))) AS s2
      |  FROM dig, (SELECT unnest(range(0,5)) AS b)
      |),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
      |  FROM bands a JOIN bands c ON a.b = c.b
      |    AND a.s0 = c.s0 AND a.s1 = c.s1 AND a.s2 = c.s2
      |    AND a.doc_id < c.doc_id
      |)
      |SELECT cand.doc_a // 1048576 AS doc_a,
      |  cand.doc_a % 1048576 AS chunk_id_a,
      |  cand.doc_b // 1048576 AS doc_b,
      |  cand.doc_b % 1048576 AS chunk_id_b,
      |  ${graft.functions.Exact.Sql.ratio6(
           "len(list_intersect(x.shingles, y.shingles))",
           "len(list_distinct(list_concat(x.shingles, y.shingles)))")}
      |    AS jaccard,
      |  ga.copies AS copies_a, ga.docs AS docs_a,
      |  gb.copies AS copies_b, gb.docs AS docs_b
      |FROM cand
      |JOIN sh x ON cand.doc_a = x.doc_id
      |JOIN sh y ON cand.doc_b = y.doc_id
      |JOIN grp ga ON cand.doc_a = ga.rep_id
      |JOIN grp gb ON cand.doc_b = gb.rep_id
      |WHERE ${graft.functions.Exact.Sql.ratio6(
           "len(list_intersect(x.shingles, y.shingles))",
           "len(list_distinct(list_concat(x.shingles, y.shingles)))")} >= 0.5
      |ORDER BY doc_a NULLS FIRST, chunk_id_a NULLS FIRST,
      |  doc_b NULLS FIRST, chunk_id_b NULLS FIRST""".stripMargin,
  ) { (s, d) =>
    val chunks = Fan.fan(Tables.documents(s, d))
      .filter(length(col("text")) > 0)
      .select(col("doc_id"), col("text"),
        explode(sequence(lit(0L), (length(col("text")) - 1).cast("long"),
          lit(150L))).as("cs"))
      .select(
        // loud guard (r17 ADVICE): the 2²⁰ chunk-id packing holds only
        // for docs < ~157 MB at the 150 stride — an over-long doc must
        // FAIL, not silently corrupt provenance ids downstream
        (col("doc_id") * 1048576L
          + when(expr("cs div 150 < 1048576"), expr("cs div 150"))
            .otherwise(expr("raise_error(concat('q319: document ', " +
              "CAST(doc_id AS STRING), ' exceeds the 2^20-chunk " +
              "(~157 MB) uid-packing bound'))").cast("long"))).as("uid"),
        col("doc_id").as("src_doc"),
        expr("substring(text, CAST(cs + 1 AS INT), 200)").as("text"))
    // the flood-mitigation pre-collapse, with provenance counts: one
    // rep (min uid) per distinct chunk text enters shingling/banding
    val hashed = chunks
      .select(col("uid"), col("src_doc"), col("text"),
        sha2(col("text"), 256).as("th"))
    val groups = hashed.groupBy(col("th"))
      .agg(min(col("uid")).as("rep_id"),
        count(lit(1)).cast("long").as("copies"),
        countDistinct(col("src_doc")).cast("long").as("docs"))
    val reps = hashed
      .join(groups.select(col("rep_id")),
        hashed("uid") === col("rep_id"))
      .select(col("uid").as("doc_id"), col("text"))
    val dsh = shingleRows(reps)
    val pairs = verifyJaccard(candidatePairs(minhashBands(dsh)), dsh)
    val prov = groups.select(col("rep_id"), col("copies"), col("docs"))
    pairs
      .join(prov.select(col("rep_id").as("doc_a"),
        col("copies").as("copies_a"), col("docs").as("docs_a")), "doc_a")
      .join(prov.select(col("rep_id").as("doc_b"),
        col("copies").as("copies_b"), col("docs").as("docs_b")), "doc_b")
      .select(
        expr("doc_a div 1048576").as("da"),
        expr("doc_a % 1048576").as("chunk_id_a"),
        expr("doc_b div 1048576").as("db"),
        expr("doc_b % 1048576").as("chunk_id_b"),
        col("jaccard"),
        col("copies_a"), col("docs_a"), col("copies_b"), col("docs_b"))
      .withColumnRenamed("da", "doc_a").withColumnRenamed("db", "doc_b")
      .orderBy(col("doc_a"), col("chunk_id_a"),
        col("doc_b"), col("chunk_id_b"))
  }

  /** CROSS-SOURCE CHUNK OVERLAP MATRIX — which sources share content:
    * for every source pair with ≥ 1 shared chunk text, the exact
    * intersection of their DISTINCT chunk-hash sets with containment
    * both ways and Jaccard. q318 measures redundancy WITHIN a source;
    * this is the BETWEEN-sources audit — mirror sites, syndicated
    * boilerplate, and benchmark contamination all show up as one
    * source's chunks being contained in another's (the q191
    * decontamination question asked at corpus-composition grain).
    * Zero-overlap pairs are ABSENT by design (join-generated; a dense
    * pair grid would be sources² rows of zeros — stated).
    *
    * Exactness: chunk identity via md5 substrings (q83's device);
    * within-source distinctness FIRST so a chunk recurring 1000× in
    * one source counts once toward every intersection; all counts
    * exact int64; ratios ratio6.
    *
    * Plan: explode → one (source, hash) distinct aggregate → a
    * hash-keyed equi self-join (candidates bounded by per-hash source
    * multiplicity, never row-proportional) → a sources²-bounded
    * finish. No cartesian (ScaleSpec).
    */
  val q320SourceOverlap = Q(
    "q320_source_overlap",
    s"""WITH ch AS (
      |  SELECT DISTINCT z.source,
      |    md5(substr(z.text, CAST(z.cs + 1 AS INTEGER), 200)) AS h
      |  FROM (
      |    SELECT source, text,
      |      unnest(generate_series(0, length(text) - 1, 150)) AS cs
      |    FROM documents
      |    WHERE source IS NOT NULL AND length(text) > 0) z
      |),
      |sz AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS n FROM ch GROUP BY 1
      |),
      |ov AS (
      |  SELECT a.source AS source_a, b.source AS source_b,
      |    CAST(count(*) AS BIGINT) AS inter
      |  FROM ch a JOIN ch b ON a.h = b.h AND a.source < b.source
      |  GROUP BY 1, 2
      |)
      |SELECT ov.source_a, ov.source_b, ov.inter,
      |  na.n AS chunks_a, nb.n AS chunks_b,
      |  ${graft.functions.Exact.Sql.ratio6("ov.inter", "na.n")}
      |    AS contain_a,
      |  ${graft.functions.Exact.Sql.ratio6("ov.inter", "nb.n")}
      |    AS contain_b,
      |  ${graft.functions.Exact.Sql.ratio6("ov.inter",
           "na.n + nb.n - ov.inter")} AS jaccard
      |FROM ov
      |JOIN sz na ON ov.source_a = na.source
      |JOIN sz nb ON ov.source_b = nb.source
      |ORDER BY source_a NULLS FIRST, source_b NULLS FIRST""".stripMargin,
  ) { (s, d) =>
    val ch = Fan.fan(Tables.documents(s, d))
      .filter(col("source").isNotNull && length(col("text")) > 0)
      .select(col("source"), col("text"),
        explode(sequence(lit(0L), (length(col("text")) - 1).cast("long"),
          lit(150L))).as("cs"))
      .select(col("source"),
        md5(expr("substring(text, CAST(cs + 1 AS INT), 200)")).as("h"))
      .distinct()
    val sz = ch.groupBy(col("source"))
      .agg(count(lit(1)).cast("long").as("n"))
    val ov = ch.select(col("source").as("source_a"), col("h"))
      .join(ch.select(col("source").as("source_b"), col("h").as("h2")),
        col("h") === col("h2") && col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).cast("long").as("inter"))
    ov
      .join(sz.select(col("source").as("source_a"), col("n").as("na")),
        "source_a")
      .join(sz.select(col("source").as("source_b"), col("n").as("nb")),
        "source_b")
      .select(col("source_a"), col("source_b"), col("inter"),
        col("na").as("chunks_a"), col("nb").as("chunks_b"),
        graft.functions.Exact.ratio6("inter", "na").as("contain_a"),
        graft.functions.Exact.ratio6("inter", "nb").as("contain_b"),
        graft.functions.Exact.ratio6("inter", "na + nb - inter")
          .as("jaccard"))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** TOP BOILERPLATE CHUNKS PER SOURCE — the ACTIONABLE readout behind
    * q318's spectrum: the k = 10 most-repeated chunk texts per source
    * with occurrence and distinct-document counts — the list a curator
    * actually strips (headers, footers, license blocks). Identity is
    * the chunk md5 (not the text — hash parity with the oracle and no
    * 200-char strings in the output).
    *
    * Exactness: counts exact int64; the per-source top-10 rides the
    * deterministic (copies DESC, docs DESC, h) total order — md5 ties
    * are impossible to order wrongly because the hash IS the tiebreak.
    *
    * Plan: explode → one (source, hash) count aggregate (map-side
    * combined) → per-source rank over the DISTINCT-chunK frame. The
    * rank window partitions by source over distinct-chunk rows — at
    * 100 TB that is per-source-vocabulary-sized, not row-proportional
    * (and [[OrderedBins.rankPar]] applies if a source's distinct chunk
    * count ever rivals its row count).
    */
  val q321BoilerplateChunks = Q(
    "q321_boilerplate_chunks",
    """WITH ch AS (
      |  SELECT z.source, z.doc_id,
      |    md5(substr(z.text, CAST(z.cs + 1 AS INTEGER), 200)) AS h
      |  FROM (
      |    SELECT source, doc_id, text,
      |      unnest(generate_series(0, length(text) - 1, 150)) AS cs
      |    FROM documents
      |    WHERE source IS NOT NULL AND length(text) > 0) z
      |),
      |cl AS (
      |  SELECT source, h, CAST(count(*) AS BIGINT) AS copies,
      |    CAST(count(DISTINCT doc_id) AS BIGINT) AS docs
      |  FROM ch GROUP BY 1, 2
      |),
      |rk AS (
      |  SELECT source, h, copies, docs,
      |    CAST(row_number() OVER (PARTITION BY source
      |      ORDER BY copies DESC, docs DESC, h) AS BIGINT) AS rnk
      |  FROM cl
      |)
      |SELECT source, rnk, h AS chunk_md5, copies, docs
      |FROM rk WHERE rnk <= 10
      |ORDER BY source NULLS FIRST, rnk""".stripMargin,
  ) { (s, d) =>
    val ch = Fan.fan(Tables.documents(s, d))
      .filter(col("source").isNotNull && length(col("text")) > 0)
      .select(col("source"), col("doc_id"), col("text"),
        explode(sequence(lit(0L), (length(col("text")) - 1).cast("long"),
          lit(150L))).as("cs"))
      .select(col("source"), col("doc_id"),
        md5(expr("substring(text, CAST(cs + 1 AS INT), 200)")).as("h"))
    val cl = ch.groupBy(col("source"), col("h"))
      .agg(count(lit(1)).cast("long").as("copies"),
        countDistinct(col("doc_id")).cast("long").as("docs"))
    // rank-filter over the chunk-proportional distinct-(source, h)
    // frame — NOT a serialized window: the adjacent `rnk <= 10` literal
    // filter triggers Catalyst's InferWindowGroupLimit, which plants a
    // two-phase WindowGroupLimit (Partial before the shuffle, Final
    // after), so each map task pre-truncates to its local top-10 per
    // source and the final per-source frame is ≤ 10 × map tasks —
    // bounded at any corpus size (plan pinned by ShortDocSpec's
    // WindowGroupLimit net; r18 — q330's strip list shares the shape)
    cl.select(col("source"), col("h"), col("copies"), col("docs"),
        row_number().over(Window.partitionBy(col("source"))
          .orderBy(col("copies").desc, col("docs").desc, col("h")))
          .cast("long").as("rnk"))
      .filter(col("rnk") <= 10)
      .select(col("source"), col("rnk"), col("h").as("chunk_md5"),
        col("copies"), col("docs"))
      .orderBy(col("source"), col("rnk"))
  }

  /** CHUNK NOVELTY SATURATION CURVE — when does a source stop
    * contributing NEW content? Per source, its documents split into ten
    * doc_id-ordered deciles (the ingest-order proxy — doc ids are
    * assigned at intake), and each decile is credited with the distinct
    * chunk texts whose FIRST occurrence (min doc_id within the source)
    * falls in it. A healthy source's cumulative-novelty curve keeps
    * climbing; a template mill saturates in the first decile — the
    * "stop crawling this" signal, and the ingestion-side complement to
    * q318's static spectrum (q318 says HOW MUCH is duplicate; this
    * says WHEN the duplication started paying nothing).
    *
    * Exactness: chunk identity via md5 substrings; first-occurrence is
    * min(doc_id) — deterministic; ntile(10) over the unique doc_id
    * order is deterministic on both engines; counts exact int64;
    * cumulative share via ratio6. Sources with < 10 docs get short
    * curves (ntile semantics, identical both engines — stated).
    *
    * Plan: explode → one (source, hash) min/any aggregate → the decile
    * assignment — which is NOT a window at scale (r17, the round-16
    * verdict's finding: docs-per-source is corpus-PROPORTIONAL, not a
    * constant, so `ntile OVER (PARTITION BY source)` sorts a billion
    * docs of one source in one task): over the DISTINCT doc_id order,
    * ntile is a closed-form rank bucket, and the rank rides the house
    * 4096-bin device ([[graft.operators.OrderedBins.ntilePar]],
    * bit-identical tiles, plain window below the measured 2M-row
    * dispatch) → one (source, decile) count + a 10-row-per-source
    * cumulative window. Nothing chunk- or doc-proportional in any
    * single task after the first aggregate.
    */
  val q329ChunkNovelty = Q(
    "q329_chunk_novelty",
    s"""WITH ch AS (
      |  SELECT z.source, z.doc_id,
      |    md5(substr(z.text, CAST(z.cs + 1 AS INTEGER), 200)) AS h
      |  FROM (
      |    SELECT source, doc_id, text,
      |      unnest(generate_series(0, length(text) - 1, 150)) AS cs
      |    FROM documents
      |    WHERE source IS NOT NULL AND length(text) > 0) z
      |),
      |fo AS (
      |  SELECT source, h, CAST(min(doc_id) AS BIGINT) AS fdoc
      |  FROM ch GROUP BY 1, 2
      |),
      |docs AS (
      |  SELECT source, doc_id,
      |    CAST(ntile(10) OVER (PARTITION BY source ORDER BY doc_id)
      |      AS BIGINT) AS decile
      |  FROM (SELECT DISTINCT source, doc_id FROM ch) u
      |),
      |per AS (
      |  SELECT d.source, d.decile,
      |    CAST(count(DISTINCT d.doc_id) AS BIGINT) AS n_docs,
      |    CAST(count(fo.h) AS BIGINT) AS new_chunks
      |  FROM docs d LEFT JOIN fo
      |    ON fo.source = d.source AND fo.fdoc = d.doc_id
      |  GROUP BY 1, 2
      |),
      |cum AS (
      |  SELECT source, decile, n_docs, new_chunks,
      |    CAST(sum(new_chunks) OVER (PARTITION BY source ORDER BY decile
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      AS BIGINT) AS cum_new,
      |    CAST(sum(new_chunks) OVER (PARTITION BY source) AS BIGINT)
      |      AS total_new
      |  FROM per
      |)
      |SELECT source, decile, n_docs, new_chunks, cum_new,
      |  ${graft.functions.Exact.Sql.ratio6("cum_new", "total_new")}
      |    AS cum_share
      |FROM cum
      |ORDER BY source NULLS FIRST, decile""".stripMargin,
  ) { (s, d) =>
    val ch = Fan.fan(Tables.documents(s, d))
      .filter(col("source").isNotNull && length(col("text")) > 0)
      .select(col("source"), col("doc_id"), col("text"),
        explode(sequence(lit(0L), (length(col("text")) - 1).cast("long"),
          lit(150L))).as("cs"))
      .select(col("source"), col("doc_id"),
        md5(expr("substring(text, CAST(cs + 1 AS INT), 200)")).as("h"))
      .transform(graft.operators.Iter.pin) // 2 consumers: first-occurrence and doc deciles
    val fo = ch.groupBy(col("source").as("f_source"), col("h"))
      .agg(min(col("doc_id")).cast("long").as("fdoc"))
    val docs = OrderedBins.ntilePar(
        // pinned: the ntilePar dispatch probe is a separate ACTION —
        // unpinned it re-runs the chunk-grain distinct (§5.7 pin rule;
        // the frame is doc-count-sized, measured +0.5 s at sf0.1)
        ch.select(col("source"), col("doc_id")).distinct()
          .transform(graft.operators.Iter.pin),
        10, "doc_id", desc = false, Nil, Seq("source"))
      .withColumnRenamed("tile", "decile")
    val per = docs.join(fo,
        col("f_source") === col("source") && col("fdoc") === col("doc_id"),
        "left")
      .groupBy(col("source"), col("decile"))
      .agg(countDistinct(col("doc_id")).cast("long").as("n_docs"),
        count(col("h")).cast("long").as("new_chunks"))
    val wCum = Window.partitionBy(col("source")).orderBy(col("decile"))
      .rowsBetween(Window.unboundedPreceding, 0)
    per.select(col("source"), col("decile"), col("n_docs"),
        col("new_chunks"),
        sum(col("new_chunks")).over(wCum).cast("long").as("cum_new"),
        sum(col("new_chunks")).over(Window.partitionBy(col("source")))
          .cast("long").as("total_new"))
      .select(col("source"), col("decile"), col("n_docs"),
        col("new_chunks"), col("cum_new"),
        graft.functions.Exact.ratio6("cum_new", "total_new")
          .as("cum_share"))
      .orderBy(col("source"), col("decile"))
  }

  /** PER-DOCUMENT BOILERPLATE SHARE — the curator's KEEP/STRIP/DROP
    * verdict, closing the r15/r16 chunk arc at the grain where the
    * decision is actually EXECUTED (r16 verdict Next #6): q318's
    * spectrum says how much of a SOURCE is duplicate and q321 names the
    * strip-list texts; this joins q83's chunker back to that strip list
    * and reports, per document, the fraction of its chunks that are
    * corpus-boilerplate. A doc that is mostly header/footer/license
    * template is DROPPED whole (share ≥ 0.8), a doc with a template
    * wrapper around real content is STRIPPED (share ≥ 0.2), the rest
    * KEEP — the three-way routing a curation pipeline runs per doc
    * before near-dup work ever sees the text.
    *
    * Boilerplate = q321's strip-list grain verbatim: per source, the
    * top-10 chunk texts by (copies DESC, docs DESC, h) with copies ≥ 2
    * (the ≥ 2 floor keeps a fully-unique corpus's top-10 from marking
    * unique docs — pinned: unique doc → share 0.0 'keep'; a doc of
    * repeated template chunks → 1.0 'drop').
    *
    * Exactness: chunk identity via md5 substrings (q83's device,
    * identical both engines); counts exact int64; share is ratio6; the
    * verdict thresholds are INTEGER cross-multiplies (5·b ≥ 4·n,
    * 5·b ≥ n) so no float boundary exists to diverge on; verdict ships
    * as a STRING (the §5.7 nullable-boolean rule's sibling).
    *
    * Plan: ONE chunk explode pinned for its two consumers (the cluster
    * frame and the per-doc count — the q329 precedent), one (source, h)
    * aggregate, the q321 rank over the distinct-chunk frame (vocab-
    * sized, §5.7 class C), and a BROADCAST of the ≤ 10-per-source strip
    * list back onto chunks — the per-doc finish is one map-side-
    * combined aggregate. Nothing chunk-proportional shuffles twice.
    */
  val q330DocBoilerplate = Q(
    "q330_doc_boilerplate",
    s"""WITH ch AS (
      |  SELECT z.source, z.doc_id,
      |    md5(substr(z.text, CAST(z.cs + 1 AS INTEGER), 200)) AS h
      |  FROM (
      |    SELECT source, doc_id, text,
      |      unnest(generate_series(0, length(text) - 1, 150)) AS cs
      |    FROM documents
      |    WHERE source IS NOT NULL AND length(text) > 0) z
      |),
      |cl AS (
      |  SELECT source, h, CAST(count(*) AS BIGINT) AS copies,
      |    CAST(count(DISTINCT doc_id) AS BIGINT) AS docs
      |  FROM ch GROUP BY 1, 2
      |),
      |strip AS (
      |  SELECT source, h FROM (
      |    SELECT source, h, copies,
      |      row_number() OVER (PARTITION BY source
      |        ORDER BY copies DESC, docs DESC, h) AS rnk
      |    FROM cl) r
      |  WHERE rnk <= 10 AND copies >= 2
      |),
      |per AS (
      |  SELECT ch.doc_id, ch.source,
      |    CAST(count(*) AS BIGINT) AS n_chunks,
      |    CAST(sum(CASE WHEN strip.h IS NOT NULL THEN 1 ELSE 0 END)
      |      AS BIGINT) AS boiler_chunks
      |  FROM ch LEFT JOIN strip
      |    ON ch.source = strip.source AND ch.h = strip.h
      |  GROUP BY 1, 2
      |)
      |SELECT doc_id, source, n_chunks, boiler_chunks,
      |  ${graft.functions.Exact.Sql.ratio6("boiler_chunks", "n_chunks")}
      |    AS boiler_share,
      |  CASE WHEN 5 * boiler_chunks >= 4 * n_chunks THEN 'drop'
      |    WHEN 5 * boiler_chunks >= n_chunks THEN 'strip'
      |    ELSE 'keep' END AS verdict
      |FROM per
      |ORDER BY doc_id NULLS FIRST""".stripMargin,
  ) { (s, d) =>
    val ch = Fan.fan(Tables.documents(s, d))
      .filter(col("source").isNotNull && length(col("text")) > 0)
      .select(col("source"), col("doc_id"), col("text"),
        explode(sequence(lit(0L), (length(col("text")) - 1).cast("long"),
          lit(150L))).as("cs"))
      .select(col("source"), col("doc_id"),
        md5(expr("substring(text, CAST(cs + 1 AS INT), 200)")).as("h"))
      .transform(graft.operators.Iter.pin) // 2 consumers: cluster frame and per-doc count
    val cl = ch.groupBy(col("source"), col("h"))
      .agg(count(lit(1)).cast("long").as("copies"),
        countDistinct(col("doc_id")).cast("long").as("docs"))
    // bounded per-source top-10, not a serialized window: the rank-filter
    // shape triggers InferWindowGroupLimit's two-phase pre-truncation —
    // see the q321 note above; plan pinned by ShortDocSpec's net (r18)
    val strip = cl
      .select(col("source"), col("h"), col("copies"),
        row_number().over(Window.partitionBy(col("source"))
          .orderBy(col("copies").desc, col("docs").desc, col("h")))
          .as("rnk"))
      .filter(col("rnk") <= 10 && col("copies") >= 2)
      .select(col("source").as("s_source"), col("h").as("s_h"))
    val per = ch.join(broadcast(strip),
        col("source") === col("s_source") && col("h") === col("s_h"),
        "left")
      .groupBy(col("doc_id"), col("source"))
      .agg(count(lit(1)).cast("long").as("n_chunks"),
        sum(when(col("s_h").isNotNull, 1).otherwise(0)).cast("long")
          .as("boiler_chunks"))
    per.select(col("doc_id"), col("source"), col("n_chunks"),
        col("boiler_chunks"),
        graft.functions.Exact.ratio6("boiler_chunks", "n_chunks")
          .as("boiler_share"),
        when(expr("5 * boiler_chunks >= 4 * n_chunks"), "drop")
          .when(expr("5 * boiler_chunks >= n_chunks"), "strip")
          .otherwise("keep").as("verdict"))
      .orderBy(col("doc_id"))
  }
}
