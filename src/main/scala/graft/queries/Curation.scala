package graft.queries

import graft.{Q, Tables}
import graft.operators.{Fan, OrderedBins}
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data curation operator family over `documents` — the pipeline
  * stages that sit between raw dedup (Dedup.scala) and a training run:
  * benchmark decontamination, sequence packing, repetition filtering,
  * domain-mixture reweighting, and stratified held-out sampling. All are
  * [EXT] operators (beyond the reference's export surface, mandated by
  * SURVEY.md §2's LLM-pipeline slice); every hash primitive is md5
  * (bit-identical in Spark and DuckDB) so each stage is oracle-checkable.
  *
  * 100 TB notes per operator:
  *  - decontamination: the eval/benchmark side is SMALL by construction
  *    (benchmarks are thousands of docs, not billions) → its distinct
  *    n-gram set broadcasts; the corpus side streams past it with no
  *    corpus-wide shuffle except the per-doc hit aggregation.
  *  - packing: the running-total window is partitioned by a shard key, so
  *    each task packs its own shard independently — no global sort, and
  *    shard count scales with the cluster, not the corpus.
  *  - repetition / mixture / sampling: pure scans + one map-side-combined
  *    aggregation; nothing quadratic, no joins on the corpus spine.
  */
object Curation {

  def all: Seq[Q] = Seq(
    q66Decontaminate, q67SeqPacking, q68Repetition, q69DomainMixture,
    q70StratifiedSample, q77MixtureResample, q82PiiRedact, q83DocChunks,
    q110BottomkSample, q112WeightedSample, q136BoilerplateStrip,
    q172DsirWeights, q176QuantileNormalize, q195TokenBudget,
    q215GiniStump, q271TemperatureMixture, q274Topsis)

  /** Per-group bottom-k-by-hash sampling through the
    * [[graft.functions.BottomK]] `Aggregator` — q70 samples by a RATE
    * (every doc below a hash threshold), this samples a fixed COUNT per
    * group, the form a "3 exemplar docs per source" curation report needs.
    * The aggregate is algebraic (sorted-merge-truncate partials), so the
    * plan is ONE hash aggregate with map-side combine shipping ≤ k rows
    * per (group, task) — no per-partition sort and no WindowGroupLimit,
    * unlike the row_number formulation the oracle uses (at 6k docs DuckDB
    * can afford it; at 100 TB the window sorts the corpus, the aggregate
    * never does). Hash = first 15 hex chars of keyed md5 as a long
    * (numeric order ≡ hex string order, the q51 idiom), ties by id, so
    * both engines select identical rows.
    */
  val q110BottomkSample = Q(
    "q110_bottomk_sample",
    """WITH h AS (
      |  SELECT source, doc_id,
      |    substr(md5('bk|' || CAST(doc_id AS VARCHAR)), 1, 15) AS hx
      |  FROM documents),
      |r AS (
      |  SELECT source, doc_id,
      |    row_number() OVER (PARTITION BY source ORDER BY hx, doc_id) AS rk
      |  FROM h)
      |SELECT source, doc_id, rk FROM r WHERE rk <= 3
      |ORDER BY source NULLS FIRST, rk""".stripMargin,
  ) { (s, d) =>
    val sampler = udaf(new graft.functions.BottomK(3))
    Tables.documents(s, d)
      .select(col("source"),
        conv(substring(md5(concat(lit("bk|"), col("doc_id").cast("string"))),
          1, 15), 16, 10).cast("long").as("h"),
        col("doc_id"))
      .groupBy(col("source"))
      .agg(sampler(col("h"), col("doc_id")).as("ids"))
      .select(col("source"), posexplode(col("ids")).as(Seq("pos", "doc_id")))
      .select(col("source"), col("doc_id"),
        (col("pos") + 1).cast("long").as("rk"))
      .orderBy(col("source"), col("rk"))
  }

  /** WEIGHTED per-group sampling without replacement (Efraimidis–Spirakis
    * A-ES as a bottom-k): q110 samples uniformly; a curation pipeline more
    * often wants inclusion probability ∝ document size or quality weight.
    * Each doc draws u ∈ (0,1) from a keyed md5 (13 hex chars / 2⁵²,
    * +0.5 so u is never 0) and competes on the exponential key
    * −ln(u)/w — the k smallest keys per group ARE a weight-proportional
    * sample without replacement (Efraimidis & Spirakis 2006, via the
    * equivalent u^{1/w} max-k form). The key is then FLOORED INTO INTEGER
    * MICRO-SPACE (×10¹², the q105 idiom): both engines floor the same
    * IEEE double (ln float-cast per the q87 libm rule), so selection is
    * tie-free-deterministic cross-engine AND the long key feeds the same
    * [[graft.functions.BottomK]] aggregate as q110 — ONE hash aggregate
    * with map-side combine, ≤ k rows shipped per (group, task), no
    * per-partition sort, while the oracle pays the window formulation
    * DuckDB can afford at fixture scale.
    */
  val q112WeightedSample = Q(
    "q112_weighted_sample",
    """WITH h AS (
      |  SELECT source, doc_id, n_chars + 1 AS w,
      |    (CAST(('0x' || substr(md5('ws|' || CAST(doc_id AS VARCHAR)), 1, 13))
      |       AS BIGINT) + 0.5) / 4503599627370496.0 AS u
      |  FROM documents),
      |k AS (
      |  SELECT source, doc_id,
      |    CAST(floor((0.0 - CAST(ln(u) AS FLOAT)) / w * 1000000000000.0)
      |      AS BIGINT) AS key
      |  FROM h),
      |r AS (
      |  SELECT source, doc_id,
      |    row_number() OVER (PARTITION BY source ORDER BY key, doc_id) AS rk
      |  FROM k)
      |SELECT source, doc_id, rk FROM r WHERE rk <= 5
      |ORDER BY source NULLS FIRST, rk""".stripMargin,
  ) { (s, d) =>
    val sampler = udaf(new graft.functions.BottomK(5))
    val u = (conv(substring(md5(concat(lit("ws|"),
        col("doc_id").cast("string"))), 1, 13), 16, 10).cast("long")
      + lit(0.5)) / lit(4503599627370496.0)
    Tables.documents(s, d)
      .select(col("source"), col("doc_id"),
        (col("n_chars") + 1).as("w"), u.as("u"))
      .select(col("source"), col("doc_id"),
        floor((lit(0.0) - log(col("u")).cast("float"))
          / col("w") * lit(1000000000000.0)).cast("long").as("key"))
      .groupBy(col("source"))
      .agg(sampler(col("key"), col("doc_id")).as("ids"))
      .select(col("source"), posexplode(col("ids")).as(Seq("pos", "doc_id")))
      .select(col("source"), col("doc_id"),
        (col("pos") + 1).cast("long").as("rk"))
      .orderBy(col("source"), col("rk"))
  }

  /** PII detection + redaction (the scrub pass every shipped training
    * corpus runs): regex-match emails, US-shaped phone numbers, and IPv4
    * addresses, count each class, and replace them with typed placeholder
    * tags. The corpus fixtures carry no PII, so each doc is first augmented
    * with DETERMINISTIC synthetic PII derived from its doc_id (same
    * expression on both engines) — every row then exercises true positives
    * while the original text exercises false-positive-freedom (it must
    * survive redaction byte-identical inside the md5). Patterns stay in
    * the RE2 ∩ java.util.regex common dialect (character classes, bounded
    * repeats, \b — no lookaround/backrefs), so Spark and DuckDB match
    * identically. Shape at 100 TB: a pure scan — three codegen'd
    * regexp_replace + three regexp_extract_all per row, no shuffle, no
    * join; the aggregate-free plan streams.
    */
  val q82PiiRedact = {
    val email = """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"""
    val phone = """\b[0-9]{3}-[0-9]{3}-[0-9]{4}\b"""
    val ip = """\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"""
    Q(
      "q82_pii_redact",
      s"""WITH aug AS (
         |  SELECT doc_id,
         |    text || ' contact user' || doc_id
         |      || '@example.com or 555-867-'
         |      || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
         |      || ' from 10.2.' || CAST(doc_id % 256 AS VARCHAR) || '.77'
         |      AS t
         |  FROM documents
         |),
         |red AS (
         |  SELECT doc_id, t,
         |    regexp_replace(regexp_replace(regexp_replace(t,
         |      '$email', '[EMAIL]', 'g'),
         |      '$phone', '[PHONE]', 'g'),
         |      '$ip', '[IP]', 'g') AS redacted
         |  FROM aug
         |)
         |SELECT doc_id,
         |  len(regexp_extract_all(t, '$email')) AS n_emails,
         |  len(regexp_extract_all(t, '$phone')) AS n_phones,
         |  len(regexp_extract_all(t, '$ip')) AS n_ips,
         |  CAST(length(redacted) AS BIGINT) AS redacted_len,
         |  md5(redacted) AS redacted_md5
         |FROM red
         |ORDER BY doc_id NULLS FIRST""".stripMargin,
    ) { (s, d) =>
      val aug = Fan.fan(Tables.documents(s, d)).select(col("doc_id"),
        concat(col("text"),
          lit(" contact user"), col("doc_id"),
          lit("@example.com or 555-867-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
          lit(" from 10.2."), (col("doc_id") % 256).cast("string"),
          lit(".77")).as("t"))
      val red = aug.withColumn("redacted",
        regexp_replace(regexp_replace(regexp_replace(col("t"),
          email, "[EMAIL]"),
          phone, "[PHONE]"),
          ip, "[IP]"))
      red.select(col("doc_id"),
        size(regexp_extract_all(col("t"), lit(email), lit(0)))
          .cast("long").as("n_emails"),
        size(regexp_extract_all(col("t"), lit(phone), lit(0)))
          .cast("long").as("n_phones"),
        size(regexp_extract_all(col("t"), lit(ip), lit(0)))
          .cast("long").as("n_ips"),
        length(col("redacted")).cast("long").as("redacted_len"),
        md5(col("redacted")).as("redacted_md5"))
        .orderBy(col("doc_id"))
    }
  }

  /** Document chunking for retrieval/context windows (the RAG prep stage):
    * fixed 200-char chunks on a 150-char stride (50-char overlap so no
    * boundary content is lost to retrieval), one output row per chunk with
    * its offset and content digest. The chunk starts are a per-row
    * `sequence` explode — generation is embarrassingly parallel, output
    * size is len/stride × corpus (the explode is the operator; there is no
    * shuffle at all), and the md5 rides the projection under whole-stage
    * codegen. Tail chunks shorter than 200 chars are kept (standard RAG
    * behavior — truncating would drop document tails).
    */
  val q83DocChunks = Q(
    "q83_doc_chunks",
    """WITH c AS (
      |  SELECT doc_id, text,
      |    unnest(generate_series(0, length(text) - 1, 150)) AS chunk_start
      |  FROM documents
      |)
      |SELECT doc_id, chunk_start // 150 AS chunk_id, chunk_start,
      |  CAST(length(substr(text, CAST(chunk_start + 1 AS INTEGER), 200)) AS BIGINT)
      |    AS chunk_len,
      |  md5(substr(text, CAST(chunk_start + 1 AS INTEGER), 200)) AS chunk_md5
      |FROM c
      |ORDER BY doc_id NULLS FIRST, chunk_id NULLS FIRST""".stripMargin,
  ) { (s, d) =>
    Fan.fan(Tables.documents(s, d))
      // empty docs chunk to NOTHING on both engines: DuckDB's
      // generate_series(0, -1, 150) is empty, but Spark's sequence()
      // throws on start > stop with a positive step — guard it out
      .filter(length(col("text")) > 0)
      .select(col("doc_id"), col("text"),
        explode(sequence(lit(0L), (length(col("text")) - 1).cast("long"),
          lit(150L))).as("chunk_start"))
      .select(col("doc_id"),
        (col("chunk_start") / 150).cast("long").as("chunk_id"),
        col("chunk_start"),
        expr("substring(text, CAST(chunk_start + 1 AS INT), 200)").as("chunk"))
      .select(col("doc_id"), col("chunk_id"), col("chunk_start"),
        length(col("chunk")).cast("long").as("chunk_len"),
        md5(col("chunk")).as("chunk_md5"))
      .orderBy(col("doc_id"), col("chunk_id"))
  }

  /** Per-source corpus stats + mixture totals, shared by q69 (weight
    * accounting) and q77 (weight execution): one map-side-combined
    * aggregate, totals via an unpartitioned window over the
    * domain-count-sized frame (see the q69 plan note).
    */
  private def sourceStats(
      s: org.apache.spark.sql.SparkSession, d: String) = {
    val all = Window.partitionBy()
    Fan.fan(Tables.documents(s, d))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " "))).cast("long").as("n_tokens"))
      .withColumn("total_tokens", sum(col("n_tokens")).over(all).cast("long"))
      .withColumn("n_sources", count(lit(1)).over(all))
  }

  /** target/actual token-share ratio, clipped at 5×, rounded — the
    * sampling weight both q69 reports and q77 executes.
    */
  private val sampleWeight: Column =
    least(graft.functions.Exact.ratio6(
      "total_tokens", "n_sources * n_tokens"), lit(5.0))

  /** Benchmark decontamination via word-5-gram collision (the n-gram-overlap
    * rule used to scrub eval sets out of training corpora): a deterministic
    * slice of the corpus (doc_id % 7 == 0) stands in for the held-out
    * benchmark; any TRAINING doc sharing at least one 5-gram with it is
    * flagged with its overlap count. Grams become ROWS (explode of an index
    * sequence; the md5 is a plain projected column — whole-stage codegen,
    * not an interpreted lambda), per-doc duplicates collapse in the same
    * DISTINCT, and the benchmark's gram set is DISTINCT'd then BROADCAST:
    * the corpus side never shuffles on content, only the flagged remnant
    * aggregates. Joining on the 32-hex md5 instead of the raw 5-gram keeps
    * the broadcast rows fixed-width.
    */
  val q66Decontaminate = Q(
    "q66_decontaminate",
    """WITH tok AS (
      |  SELECT doc_id, lang, doc_id % 7 = 0 AS is_eval,
      |    string_split(text, ' ') AS toks
      |  FROM documents
      |),
      |g AS (
      |  SELECT doc_id, lang, is_eval,
      |    unnest(list_distinct(list_transform(range(1, len(toks) - 3),
      |      i -> md5(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
      |        || ' ' || toks[i+3] || ' ' || toks[i+4])))) AS gram
      |  FROM tok
      |),
      |eval_grams AS (SELECT DISTINCT gram FROM g WHERE is_eval)
      |SELECT g.doc_id, g.lang, count(*) AS n_hit_grams
      |FROM g JOIN eval_grams e ON g.gram = e.gram
      |WHERE NOT g.is_eval
      |GROUP BY g.doc_id, g.lang
      |ORDER BY doc_id NULLS FIRST""".stripMargin,
  ) { (s, d) =>
    val n = 5
    val base = Fan.fan(Tables.documents(s, d))
      .select(col("doc_id"), col("lang"),
        (col("doc_id") % 7 === 0).as("is_eval"),
        split(col("text"), " ").as("toks"))
      // <n-token docs yield no grams on either engine; the filter also keeps
      // Spark's sequence() ascending (sequence(1, k<1) would DESCEND)
      .filter(size(col("toks")) >= n)
    // per-doc distinctness happens as a per-row array_distinct on the RAW
    // grams BEFORE the explode (cheap concat lambda — the md5 stays a
    // relational projected column, see Dedup.scala's hazard note), so no
    // corpus-wide DISTINCT shuffle exists anywhere in the plan; distinct
    // raw grams map 1:1 to distinct digests
    val grams = base
      .select(col("doc_id"), col("lang"), col("is_eval"),
        explode(array_distinct(transform(
          sequence(lit(1), size(col("toks")) - (n - 1)),
          i => concat_ws(" ",
            (0 until n).map(k => element_at(col("toks"), i + k)): _*))))
          .as("raw"))
      .select(col("doc_id"), col("lang"), col("is_eval"),
        md5(col("raw")).as("gram"))
    val evalGrams = grams.filter(col("is_eval")).select(col("gram")).distinct()
    grams.filter(!col("is_eval"))
      .join(broadcast(evalGrams), "gram")
      .groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("n_hit_grams"))
      .select(col("doc_id"), col("lang"), col("n_hit_grams"))
      .orderBy(col("doc_id"))
  }

  /** Sequence packing for a fixed token budget (512): docs are packed
    * greedily in doc_id order into consecutive bins, a doc landing in the
    * bin where its running total starts (straddlers spill — the standard
    * pack-then-truncate accounting). The running total is a window cumsum
    * PARTITIONED BY a shard key (doc_id % 8): each shard packs
    * independently in one task, which is exactly how packing parallelizes
    * at 100 TB — the order inside a shard is deterministic, shards never
    * coordinate, and shard count is a free dial (cluster width, not corpus
    * size). Output is per-bin occupancy accounting.
    */
  val q67SeqPacking = Q(
    "q67_seq_packing",
    """WITH t AS (
      |  SELECT doc_id, doc_id % 8 AS shard,
      |    len(string_split(text, ' ')) AS n_tokens
      |  FROM documents
      |),
      |c AS (
      |  SELECT shard, doc_id, n_tokens,
      |    sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM t
      |)
      |SELECT shard, CAST((cum - n_tokens) // 512 AS BIGINT) AS bin,
      |  count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS bin_tokens,
      |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
      |FROM c GROUP BY 1, 2
      |ORDER BY shard NULLS FIRST, bin NULLS FIRST""".stripMargin,
  ) { (s, d) =>
    val cumW = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(s, d)
      .select(col("doc_id"), (col("doc_id") % 8).as("shard"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .withColumn("cum", sum(col("n_tokens")).over(cumW))
      .groupBy(col("shard"),
        expr("(cum - n_tokens) div 512").as("bin"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).cast("long").as("bin_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .orderBy(col("shard"), col("bin"))
  }

  /** Within-document repetition detection (the duplicate-n-gram filters of
    * large-corpus quality pipelines): duplicate word-3-gram fraction
    * (1 − distinct/total) plus the count of immediately repeated tokens.
    * Pure scan — the per-row arrays are bounded by document length, the
    * lambdas are cheap string/compare ops (no hashes; the md5-in-lambda
    * megamorphic hazard documented at Dedup.scala does not apply), and the
    * only shuffle is the presentation sort.
    */
  val q68Repetition = Q(
    "q68_repetition",
    s"""SELECT doc_id, n3 AS n_3grams, nd3 AS n_distinct_3grams,
      |  ${graft.functions.Exact.Sql.ratio6("n3 - nd3", "n3")} AS dup_3gram_frac,
      |  n_adj AS n_adjacent_dups
      |FROM (
      |  SELECT doc_id, len(toks) - 2 AS n3,
      |    len(list_distinct(list_transform(range(1, len(toks) - 1),
      |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS nd3,
      |    len(list_filter(range(1, len(toks)), i -> toks[i] = toks[i+1])) AS n_adj
      |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents) t
      |  WHERE len(toks) >= 3) s
      |ORDER BY doc_id NULLS FIRST""".stripMargin,
  ) { (s, d) =>
    val toks = col("toks")
    val nToks = size(toks)
    Fan.fan(Tables.documents(s, d))
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(nToks >= 3)
      .select(col("doc_id"),
        (nToks - 2).as("n3"),
        size(array_distinct(transform(sequence(lit(1), nToks - 2), i =>
          concat_ws(" ", element_at(toks, i), element_at(toks, i + 1),
            element_at(toks, i + 2))))).as("nd3"),
        size(filter(sequence(lit(1), nToks - 1), i =>
          element_at(toks, i) === element_at(toks, i + 1))).as("n_adj"))
      .select(col("doc_id"),
        col("n3").as("n_3grams"),
        col("nd3").as("n_distinct_3grams"),
        graft.functions.Exact.ratio6("n3 - nd3", "n3").as("dup_3gram_frac"),
        col("n_adj").as("n_adjacent_dups"))
      .orderBy(col("doc_id"))
  }

  /** Domain-mixture reweighting (the DoReMi-shaped accounting step): each
    * source's token share vs a uniform target share becomes a sampling
    * weight (target/actual, clipped at 5× so starved domains don't explode).
    * One map-side-combined aggregation by source; the totals side is a
    * 1-row broadcast. At 100 TB the per-source table is domain-count-sized
    * (dozens to thousands of rows) — trivially broadcastable.
    */
  // (plan note) totals come from an UNPARTITIONED window over the per-source
  // aggregate — normally a scale smell, but the frame is domain-count-sized
  // (dozens to thousands of rows) and the alternative (a separate totals
  // aggregate crossJoined back) re-scans and re-tokenizes the whole corpus a
  // second time: audited plan showed the full scan subtree twice. One tiny
  // exchange beats a second 100 TB pass.
  val q69DomainMixture = Q(
    "q69_domain_mixture",
    s"""WITH per_src AS (
      |  SELECT source, count(*) AS n_docs,
      |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      |  FROM documents GROUP BY source
      |),
      |tot AS (
      |  SELECT CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
      |    count(*) AS n_sources
      |  FROM per_src
      |)
      |SELECT s.source, s.n_docs, s.n_tokens,
      |  ${graft.functions.Exact.Sql.ratio6("s.n_tokens", "t.total_tokens")} AS token_share,
      |  least(${graft.functions.Exact.Sql.ratio6(
          "t.total_tokens", "t.n_sources * s.n_tokens")}, 5.0) AS sample_weight
      |FROM per_src s CROSS JOIN tot t
      |ORDER BY source NULLS FIRST""".stripMargin,
  ) { (s, d) =>
    sourceStats(s, d)
      .select(col("source"), col("n_docs"), col("n_tokens"),
        graft.functions.Exact.ratio6("n_tokens", "total_tokens")
          .as("token_share"),
        sampleWeight.as("sample_weight"))
      .orderBy(col("source"))
  }

  /** Mixture resampling — EXECUTING q69's weights rather than reporting
    * them: every doc is replicated floor(w) times plus one more copy with
    * probability frac(w), decided by a deterministic integer hash of the
    * doc_id (Knuth multiplicative, pure BIGINT arithmetic — identical in
    * every engine with no hex conversion), so the resampled corpus is
    * reproducible across engines, runs, and data increments. The Spark
    * side MATERIALIZES the epochs (explode of a per-doc copy sequence —
    * the real training-corpus expansion, embarrassingly parallel) and
    * counts them; the oracle folds the same per-doc copy count
    * arithmetically. Output: per-source realized vs target epochs.
    */
  val q77MixtureResample = Q(
    "q77_mixture_resample",
    s"""WITH per_src AS (
      |  SELECT source, count(*) AS n_docs,
      |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      |  FROM documents GROUP BY source
      |),
      |wts AS (
      |  SELECT source, n_docs,
      |    least(${graft.functions.Exact.Sql.ratio6(
          "sum(n_tokens) OVER ()", "(count(*) OVER ()) * n_tokens")}, 5.0) AS w
      |  FROM per_src
      |),
      |perdoc AS (
      |  SELECT d.source AS src, wts.w, wts.n_docs,
      |    CAST(floor(wts.w) AS BIGINT)
      |      + CASE WHEN CAST((d.doc_id * 2654435761) % 4294967296 AS DOUBLE)
      |          / 4294967296.0 < wts.w - floor(wts.w) THEN 1 ELSE 0 END
      |      AS n_copies
      |  FROM documents d JOIN wts ON d.source = wts.source
      |)
      |SELECT src AS source, n_docs, CAST(sum(n_copies) AS BIGINT) AS n_copies,
      |  w AS target_epochs,
      |  ${graft.functions.Exact.Sql.ratio6("sum(n_copies)", "n_docs")} AS realized_epochs
      |FROM perdoc GROUP BY src, n_docs, w
      |ORDER BY source NULLS FIRST""".stripMargin,
  ) { (s, d) =>
    val wts = sourceStats(s, d)
      .select(col("source"), col("n_docs"), sampleWeight.as("w"))
    val u = ((col("doc_id") * 2654435761L) % 4294967296L).cast("double") /
      4294967296.0
    Fan.fan(Tables.documents(s, d))
      .select(col("doc_id"), col("source"))
      .join(broadcast(wts), "source")
      .select(col("source"), col("n_docs"), col("w"), u.as("u"),
        explode(sequence(lit(0L), floor(col("w")).cast("long"))).as("c"))
      .filter(col("c") < floor(col("w")) ||
        col("u") < col("w") - floor(col("w")))
      .groupBy(col("source"), col("n_docs"), col("w"))
      .agg(count(lit(1)).as("n_copies"))
      .select(col("source"), col("n_docs"), col("n_copies"),
        col("w").as("target_epochs"),
        graft.functions.Exact.ratio6("n_copies", "n_docs")
          .as("realized_epochs"))
      .orderBy(col("source"))
  }

  /** Stratified deterministic sampling: per-language sampling rates
    * (en 0x1a/256 ≈ 10%, fr 50%, de ≈ 80%, others ≈ 30%) applied through
    * the q65 hash-threshold idiom — membership is a pure function of
    * md5("sample|" + doc_id), so every engine, run, and data increment
    * agrees on every doc with no sampling state and no global pass. Output
    * is the per-stratum realized accounting. The rebalancing companion to
    * q69: q69 computes the weights, this executes a stratified cut.
    */
  val q70StratifiedSample = Q(
    "q70_stratified_sample",
    s"""WITH s AS (
      |  SELECT doc_id, lang, n_chars,
      |    substr(md5('sample|' || CAST(doc_id AS VARCHAR)), 1, 2) AS h,
      |    CASE lang WHEN 'en' THEN '1a' WHEN 'fr' THEN '80'
      |      WHEN 'de' THEN 'cc' ELSE '4d' END AS thresh
      |  FROM documents
      |)
      |SELECT lang, count(*) AS n_total,
      |  count(*) FILTER (h < thresh) AS n_sampled,
      |  CAST(sum(n_chars) FILTER (h < thresh) AS BIGINT) AS sampled_chars,
      |  ${graft.functions.Exact.Sql.ratio6(
          "count(*) FILTER (h < thresh)", "count(*)")} AS realized_rate
      |FROM s GROUP BY lang
      |ORDER BY lang NULLS FIRST""".stripMargin,
  ) { (s, d) =>
    val h = substring(
      md5(concat(lit("sample|"), col("doc_id").cast("string"))), 1, 2)
    val thresh = when(col("lang") === "en", "1a")
      .when(col("lang") === "fr", "80")
      .when(col("lang") === "de", "cc")
      .otherwise("4d")
    Tables.documents(s, d)
      .select(col("lang"), col("n_chars"), (h < thresh).as("sampled"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_total"),
        count(when(col("sampled"), lit(1))).as("n_sampled"),
        sum(when(col("sampled"), col("n_chars"))).cast("long")
          .as("sampled_chars"))
      .select(col("lang"), col("n_total"), col("n_sampled"),
        col("sampled_chars"),
        graft.functions.Exact.ratio6("n_sampled", "n_total")
          .as("realized_rate"))
      .orderBy(col("lang"))
  }

  /** Cross-doc BOILERPLATE STRIPPING — the C4 "remove lines seen ≥ 3
    * times in the corpus" step, the REWRITING complement to the
    * detection-only family (q86 flags duplicated grams, q116 locates
    * duplicated passages; this one emits the CLEANED documents): text is
    * segmented into non-overlapping 10-token spans (the corpus has no
    * newlines, so fixed token windows stand in for lines — the q83
    * fixed-window precedent), a span is boilerplate when it appears in
    * ≥ 3 DISTINCT documents, and each doc is reassembled from its
    * surviving spans in original order. Output carries the rebuilt text's
    * md5 plus span accounting, so the oracle hash-checks the actual
    * REASSEMBLY (order, spacing, tail span) — not just the counts.
    *
    * Plan: one segment explode → distinct (doc, seg) → one seg-keyed
    * count aggregate (the cross-doc frequency), joined back to the
    * positional spans on the seg hash, then one per-doc sort_array
    * rebuild. Shuffle mass is segment-type-proportional; nothing
    * quadratic, no self-join — the frequency table IS the filter.
    */
  val q136BoilerplateStrip = Q(
    "q136_boilerplate_strip",
    """WITH t AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
      |),
      |seg0 AS (
      |  SELECT doc_id, toks,
      |    unnest(range(0, (len(toks) + 9) // 10)) AS i
      |  FROM t
      |),
      |seg AS (
      |  SELECT doc_id, i,
      |    array_to_string(toks[i * 10 + 1 : i * 10 + 10], ' ') AS s
      |  FROM seg0
      |),
      |f AS (
      |  SELECT md5(s) AS k, count(DISTINCT doc_id) AS docs
      |  FROM seg GROUP BY 1
      |),
      |kept AS (
      |  SELECT seg.doc_id, seg.i, seg.s, f.docs >= 3 AS boiler
      |  FROM seg JOIN f ON md5(seg.s) = f.k
      |)
      |SELECT doc_id,
      |  CAST(count(*) AS BIGINT) AS n_segs,
      |  CAST(sum(CASE WHEN boiler THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_dropped,
      |  -- a FULLY-stripped doc has no remainder to hash: NULL, explicitly
      |  -- (DuckDB's array_to_string([]) happens to be NULL while Spark's
      |  -- array_join([]) is '' — SURVEY §5.7 catalog; both sides state
      |  -- the CASE so neither engine's empty-list quirk decides)
      |  CASE WHEN sum(CASE WHEN boiler THEN 1 ELSE 0 END) = count(*)
      |    THEN NULL
      |    ELSE md5(array_to_string(list_transform(
      |      list_sort(coalesce(list({'i': i, 's': s})
      |        FILTER (WHERE NOT boiler), [])), x -> x.s), ' ')) END
      |    AS cleaned_md5
      |FROM kept GROUP BY doc_id
      |ORDER BY doc_id NULLS FIRST""".stripMargin,
  ) { (s, d) =>
    val segs = Fan.fan(Tables.documents(s, d))
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), posexplode(expr(
        """transform(sequence(0, CAST((size(toks) + 9) div 10 AS INT) - 1),
          |  i -> array_join(slice(toks, i * 10 + 1, 10), ' '))""".stripMargin)))
      .select(col("doc_id"), col("pos").as("i"), col("col").as("s"))
    val freq = segs.select(col("doc_id"), md5(col("s")).as("k")).distinct()
      .groupBy(col("k")).agg(count(lit(1)).as("docs"))
    segs.join(freq, md5(col("s")) === col("k"))
      .select(col("doc_id"), col("i"), col("s"),
        (col("docs") >= 3).as("boiler"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_segs"),
        sum(when(col("boiler"), 1).otherwise(0)).cast("long").as("n_dropped"),
        md5(array_join(expr(
          "transform(sort_array(collect_list(CASE WHEN NOT boiler " +
            "THEN struct(i, s) END)), x -> x.s)"), " ")).as("md5_raw"))
      .select(col("doc_id"), col("n_segs"), col("n_dropped"),
        when(col("n_dropped") === col("n_segs"),
          lit(null).cast("string"))
          .otherwise(col("md5_raw")).as("cleaned_md5"))
      .orderBy(col("doc_id"))
  }

  /** DSIR-STYLE IMPORTANCE WEIGHTING — data selection for language-model
    * pretraining (Xie et al.'s Data Selection via Importance Resampling
    * shape): score every document by the log-likelihood RATIO between a
    * target-domain n-gram LM (here: the English slice, the corpus
    * plurality) and the general-corpus LM, both add-one-smoothed bigram
    * models trained in the same pass; documents whose ratio favors the
    * target (llr > 0) are the ones an importance resample keeps when
    * curating general crawl toward a target distribution. This composes
    * q131's LM machinery (train + score share one bigram-count table)
    * with q69/q77's mixture-curation intent, replacing their hand-set
    * domain weights with model-derived per-document ones.
    *
    *   llr(doc) = avg_nll_corpus(doc) − avg_nll_target(doc)
    *   nll terms: k · ln((c1 + V)/(c12 + 1)) per distinct doc-bigram,
    *   with (c1, c12, V) from the respective LM; target counts are
    *   conditional sums over the SAME windows (no second corpus scan).
    *
    * Exactness is the q131/q87 discipline, twice: each ln is computed
    * over exact integer counts, cast to FLOAT (kills libm 1-ulp wobble),
    * weighted as DOUBLE, summed as fixed-scale DECIMAL (associative —
    * partial-merge order can't change the bits), and the two exact sums
    * close with fixed-order double ops. The keep flag compares the
    * UNROUNDED llr against 0 — the same IEEE tree in both engines.
    *
    * Plan: one corpus scan → per-doc bigram aggregate; corpus AND target
    * LM counts ride the same two windows (PARTITION BY (w1,w2) / BY w1)
    * as conditional sums; two 1-row smoothing constants broadcast back.
    * Bigram-TYPE-proportional shuffles only — the q131 scale shape with
    * a second model for free.
    */
  val q172DsirWeights = Q(
    "q172_dsir_weights",
    """WITH t AS (
      |  SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS tgt,
      |    string_split(text, ' ') AS toks
      |  FROM documents
      |),
      |bg AS (
      |  SELECT doc_id, tgt,
      |    unnest(list_transform(range(1, len(toks)),
      |      i -> {'w1': toks[i], 'w2': toks[i + 1]})) AS u
      |  FROM t WHERE len(toks) >= 2
      |),
      |pd AS (
      |  SELECT doc_id, tgt, u.w1 AS w1, u.w2 AS w2, count(*) AS k
      |  FROM bg GROUP BY 1, 2, 3, 4
      |),
      |w AS (
      |  SELECT doc_id, k,
      |    CAST(sum(k) OVER (PARTITION BY w1, w2) AS BIGINT) AS c12c,
      |    CAST(sum(k) OVER (PARTITION BY w1) AS BIGINT) AS c1c,
      |    CAST(coalesce(sum(CASE WHEN tgt = 1 THEN k END)
      |      OVER (PARTITION BY w1, w2), 0) AS BIGINT) AS c12t,
      |    CAST(coalesce(sum(CASE WHEN tgt = 1 THEN k END)
      |      OVER (PARTITION BY w1), 0) AS BIGINT) AS c1t
      |  FROM pd
      |),
      |v AS (SELECT count(DISTINCT w1) AS vc FROM pd),
      |vt AS (SELECT count(DISTINCT w1) AS vt FROM pd WHERE tgt = 1),
      |sc AS (
      |  SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_bigrams,
      |    CAST(sum(CAST(CAST(k AS DOUBLE) *
      |        CAST(ln(CAST(c1c + vc AS DOUBLE) / CAST(c12c + 1 AS DOUBLE))
      |          AS FLOAT) AS DECIMAL(18,9))) AS DOUBLE) AS sdc,
      |    CAST(sum(CAST(CAST(k AS DOUBLE) *
      |        CAST(ln(CAST(c1t + vt AS DOUBLE) / CAST(c12t + 1 AS DOUBLE))
      |          AS FLOAT) AS DECIMAL(18,9))) AS DOUBLE) AS sdt
      |  FROM w, v, vt GROUP BY doc_id
      |)
      |SELECT doc_id, n_bigrams,
      |  round((sdc - sdt) / n_bigrams, 6) AS llr,
      |  (sdc - sdt) / n_bigrams > 0.0 AS keep
      |FROM sc
      |ORDER BY doc_id NULLS FIRST""".stripMargin,
  ) { (s, d) =>
    dsirLlr(Fan.fan(Tables.documents(s, d)),
      when(col("lang") === "en", 1).otherwise(0))
  }

  /** q172's operator body over any frame with (doc_id, text): per-doc
    * log-likelihood ratio between the LM trained on rows where `tgt`
    * evaluates 1 and the LM trained on everything. Suite entry — the
    * algebraic identity dsirLlr(docs, lit(1)) ≡ 0 (target LM = corpus LM)
    * is asserted in MiningSpec. */
  def dsirLlr(docs: org.apache.spark.sql.DataFrame,
      tgt: org.apache.spark.sql.Column): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pd = docs
      .select(col("doc_id"), tgt.as("tgt"),
        split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), col("tgt"), explode(expr(
        """transform(sequence(1, size(toks) - 1),
          |  i -> struct(element_at(toks, i) AS w1,
          |              element_at(toks, i + 1) AS w2))""".stripMargin))
        .as("u"))
      .groupBy(col("doc_id"), col("tgt"),
        col("u.w1").as("w1"), col("u.w2").as("w2"))
      .agg(count(lit(1)).as("k"))
    val w12 = Window.partitionBy(col("w1"), col("w2"))
    val w1 = Window.partitionBy(col("w1"))
    val w = pd.select(col("doc_id"), col("k"),
      sum(col("k")).over(w12).as("c12c"),
      sum(col("k")).over(w1).as("c1c"),
      coalesce(sum(when(col("tgt") === 1, col("k"))).over(w12), lit(0L))
        .as("c12t"),
      coalesce(sum(when(col("tgt") === 1, col("k"))).over(w1), lit(0L))
        .as("c1t"))
    val v = pd.agg(countDistinct(col("w1")).as("vc"))
    val vt = pd.filter(col("tgt") === 1)
      .agg(countDistinct(col("w1")).as("vt"))
    def nllSum(c1: String, c12: String, vv: String) = sum(expr(
      s"""CAST(CAST(k AS DOUBLE) *
         |  CAST(ln(CAST($c1 + $vv AS DOUBLE) / CAST($c12 + 1 AS DOUBLE))
         |    AS FLOAT) AS DECIMAL(18,9))""".stripMargin)).cast("double")
    w.crossJoin(broadcast(v)).crossJoin(broadcast(vt))
      .groupBy(col("doc_id"))
      .agg(sum(col("k")).cast("long").as("n_bigrams"),
        nllSum("c1c", "c12c", "vc").as("sdc"),
        nllSum("c1t", "c12t", "vt").as("sdt"))
      .select(col("doc_id"), col("n_bigrams"),
        round((col("sdc") - col("sdt")) / col("n_bigrams"), 6).as("llr"),
        ((col("sdc") - col("sdt")) / col("n_bigrams") > 0.0).as("keep"))
      .orderBy(col("doc_id"))
  }

  /** CROSS-GROUP QUANTILE NORMALIZATION — make per-domain scores
    * comparable: a document at the r-th of n_g positions within its
    * SOURCE is assigned the pooled corpus's value at the scaled position
    * ⌈r·N/n_g⌉, so every source's score distribution maps onto the one
    * pooled distribution. This is the curation step that lets ONE global
    * quality threshold (or mixture sampler) act fairly across domains
    * whose raw score scales differ — the microarray quantile-normalize
    * idiom applied to corpus curation, here over `n_chars` as the score.
    *
    * Exactness: ranks are row_number with doc_id tiebreak (a total order
    * both engines share), the scaled position is pure integer ceiling
    * division, and the normalized value is an exact pooled ORDER
    * STATISTIC — no float anywhere.
    *
    * Plan: one source-partitioned rank window; pooled positions come
    * from the value-RUN cumulative (a window over DISTINCT scores —
    * [[OrderedBins.prefixSumPar]] is the device should that count ever
    * rival the docs), and each doc finds
    * its covering run via a range join against the BROADCAST pooled run
    * table — bounded by score CARDINALITY (523 distinct values at
    * sf0.1), not corpus size. For a high-cardinality score the range
    * join swaps for the q107 binned interval join; the broadcast form is
    * the right plan while distinct-score count stays dim-sized.
    */
  val q176QuantileNormalize = Q(
    "q176_quantile_normalize",
    """WITH d AS (
      |  SELECT doc_id, source, n_chars AS score FROM documents
      |  WHERE n_chars IS NOT NULL
      |),
      |rk AS (
      |  SELECT doc_id, source, score,
      |    row_number() OVER (PARTITION BY source
      |      ORDER BY score, doc_id) AS r,
      |    count(*) OVER (PARTITION BY source) AS ng,
      |    count(*) OVER () AS n
      |  FROM d
      |),
      |runs AS (
      |  SELECT score, count(*) AS cnt FROM d GROUP BY score
      |),
      |cum AS (
      |  SELECT score, cnt,
      |    sum(cnt) OVER (ORDER BY score
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - cnt AS s
      |  FROM runs
      |)
      |SELECT rk.doc_id, rk.source, CAST(rk.score AS BIGINT) AS score,
      |  CAST(rk.r AS BIGINT) AS rnk,
      |  CAST(cum.score AS BIGINT) AS norm_score
      |FROM rk JOIN cum
      |  ON (rk.r * rk.n + rk.ng - 1) // rk.ng > cum.s
      |  AND (rk.r * rk.n + rk.ng - 1) // rk.ng <= cum.s + cum.cnt
      |ORDER BY rk.doc_id NULLS FIRST""".stripMargin,
  ) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, d)
      .filter(col("n_chars").isNotNull)
      .select(col("doc_id"), col("source"), col("n_chars").as("score"))
    // r17: per-source rank via the scale-parallel rank device
    // (sources are low-cardinality with doc-proportional frames — the
    // serialized-window class) and the global doc count as a broadcast
    // 1-row aggregate instead of an all-to-one count window
    val rk = OrderedBins.rankPar(docs, "score", desc = false,
        Seq("doc_id"), Seq("source"))
      .crossJoin(broadcast(docs.agg(count(lit(1)).as("n"))))
      .select(col("doc_id"), col("source"), col("score"),
        col("i").as("r"), col("nd").as("ng"), col("n"))
    val cum = docs.groupBy(col("score")).agg(count(lit(1)).as("cnt"))
      .select(col("score").as("pscore"), col("cnt"),
        (sum(col("cnt")).over(Window.orderBy(col("score"))
          .rowsBetween(Window.unboundedPreceding, 0)) - col("cnt")).as("s"))
    val p = expr("(r * n + ng - 1) div ng")
    rk.join(broadcast(cum), p > col("s") && p <= col("s") + col("cnt"))
      .select(col("doc_id"), col("source"),
        col("score").cast("long").as("score"),
        col("r").cast("long").as("rnk"),
        col("pscore").cast("long").as("norm_score"))
      .orderBy(col("doc_id"))
  }

  /** TOKEN-BUDGET SELECTION — the step every pretraining data mix ends
    * with: given a total token budget (here 10% of the corpus), keep the
    * highest-quality documents WHOLE until the budget is exhausted.
    * Quality is the type-token ratio (distinct/total tokens — the q37
    * lexical-diversity signal, here as the selection key), and the rule
    * is strict greedy: documents rank by (quality, doc_id), a document
    * is kept iff its whole token count still fits, and the FIRST
    * crossing document is excluded along with everything after it —
    * whole-doc selection, no partial credit (chunk-level budgeting is
    * q83's job upstream).
    *
    * Determinism/exactness: quality compares as the INTEGER
    * (nd·10⁶) div nt (a ratio ordered without division — identical
    * truncation both engines, q132's threshold idiom), the rank order
    * (quality DESC, doc_id) is total, the running token sum is exact
    * int64, and the budget is the 1-row integer total div 10 broadcast
    * back. No floats anywhere.
    *
    * Plan: one token-count aggregate per doc, one 1-row corpus total,
    * ONE ordered cumulative sum over doc-count rows
    * ([[OrderedBins.prefixSumPar]]: past its row threshold, quantile bins
    * and a cross-bin prefix over (quality, id) keys, never a global sort
    * of row-level data), then the budget filter. Output is the kept set
    * with its audit columns.
    */
  val q195TokenBudget = Q(
    "q195_token_budget",
    """WITH t AS (
      |  SELECT doc_id, len(string_split(text, ' ')) AS nt,
      |    len(list_distinct(string_split(text, ' '))) AS nd
      |  FROM documents
      |),
      |b AS (SELECT CAST(sum(nt) AS BIGINT) // 10 AS budget FROM t),
      |r AS (
      |  SELECT doc_id, nt,
      |    (CAST(nd AS BIGINT) * 1000000) // nt AS quality_micro,
      |    sum(nt) OVER (ORDER BY (CAST(nd AS BIGINT) * 1000000) // nt DESC,
      |      doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      AS cum_tokens
      |  FROM t
      |)
      |SELECT doc_id, CAST(nt AS BIGINT) AS n_tokens,
      |  CAST(quality_micro AS BIGINT) AS quality_micro,
      |  CAST(cum_tokens AS BIGINT) AS cum_tokens, b.budget
      |FROM r, b
      |WHERE cum_tokens <= b.budget
      |ORDER BY quality_micro DESC NULLS LAST, doc_id NULLS FIRST"""
      .stripMargin,
  ) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val t = Fan.fan(Tables.documents(s, d))
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("nt"),
        size(array_distinct(split(col("text"), " "))).cast("long").as("nd"))
      .withColumn("quality_micro", expr("(nd * 1000000) div nt"))
    val b = t.agg(expr("sum(nt) div 10").as("budget"))
    // r17: the greedy prefix rides the scale-parallel running sum
    // (the global Window.orderBy summed every doc in one task)
    OrderedBins.prefixSumPar(
        t.localCheckpoint(), // probe + main action (§5.7 pin rule)
        "quality_micro", desc = true,
        Seq("doc_id"), Seq("nt"))
      .withColumnRenamed("cum_nt", "cum_tokens")
      .crossJoin(broadcast(b))
      .filter(col("cum_tokens") <= col("budget"))
      .select(col("doc_id"), col("nt").as("n_tokens"),
        col("quality_micro"), col("cum_tokens"), col("budget"))
      .orderBy(col("quality_micro").desc, col("doc_id"))
  }
  /** GINI DECISION STUMP — the single-feature split finder, the
    * feature-quality probe a labeling pipeline runs before training
    * anything: per source, the n_chars threshold that best separates
    * lang = 'en' documents, scored by weighted Gini impurity. The gap
    * between gini_parent and gini_split IS the feature's usefulness on
    * that slice (≈ 0 → length carries no label signal there).
    *
    * Exactness: class counts are exact int64 prefix sums over the
    * per-value histogram; the weighted impurity
    * [(n_L² − p_L² − q_L²)/n_L + (n_R² − p_R² − q_R²)/n_R]/n is a
    * FIXED-ORDER double chain over those integers (n² ≤ 2⁵³ exact
    * through n ≤ 9.4e7 docs per slice — document the bound, shard past
    * it), so both engines see bit-identical scores and the argmin with
    * the (score, threshold) tie-break is engine-independent — the q188
    * exact-argmax discipline. Only PROPER splits (n_L < n) compete; a
    * slice whose docs all share one value has no proper split and is
    * EXCLUDED by definition.
    *
    * Plan: one scan → (source, value) class histogram (map-side
    * combined), one window per source over its ≤ |values| rows, one
    * argmin row_number. Nothing row-proportional past the histogram;
    * at 100 TB candidate thresholds stay value-bounded per slice.
    */
  val q215GiniStump = Q(
    "q215_gini_stump",
    """WITH d AS (
      |  SELECT source, n_chars AS v,
      |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
      |  FROM documents
      |  WHERE source IS NOT NULL AND n_chars IS NOT NULL
      |    AND lang IS NOT NULL
      |),
      |vc AS (
      |  SELECT source, v, CAST(count(*) AS BIGINT) AS c,
      |    CAST(sum(y) AS BIGINT) AS p
      |  FROM d GROUP BY 1, 2
      |),
      |tot AS (
      |  SELECT source, CAST(sum(c) AS BIGINT) AS n,
      |    CAST(sum(p) AS BIGINT) AS pos
      |  FROM vc GROUP BY 1
      |),
      |pre AS (
      |  SELECT vc.source, vc.v, t.n, t.pos,
      |    CAST(sum(vc.c) OVER (PARTITION BY vc.source ORDER BY vc.v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS nl,
      |    CAST(sum(vc.p) OVER (PARTITION BY vc.source ORDER BY vc.v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS pl
      |  FROM vc JOIN tot t ON t.source = vc.source
      |),
      |sc AS (
      |  SELECT source, v, n, pos, nl, pl, n - nl AS nr, pos - pl AS pr,
      |    (CAST(nl * nl - pl * pl - (nl - pl) * (nl - pl) AS DOUBLE)
      |       / CAST(nl AS DOUBLE)
      |     + CAST((n - nl) * (n - nl) - (pos - pl) * (pos - pl)
      |         - ((n - nl) - (pos - pl)) * ((n - nl) - (pos - pl))
      |         AS DOUBLE)
      |       / CAST(n - nl AS DOUBLE)) / CAST(n AS DOUBLE) AS gsplit
      |  FROM pre WHERE nl < n
      |),
      |best AS (
      |  SELECT source, v, n, pos, nl, pl, gsplit,
      |    row_number() OVER (PARTITION BY source ORDER BY gsplit, v)
      |      AS rb
      |  FROM sc
      |)
      |SELECT source, n AS n_docs, pos AS n_pos,
      |  CAST(v AS BIGINT) AS best_threshold,
      |  nl AS n_left, pl AS pos_left,
      |  round(CAST(n * n - pos * pos - (n - pos) * (n - pos) AS DOUBLE)
      |    / CAST(n AS DOUBLE) / CAST(n AS DOUBLE), 6) AS gini_parent,
      |  round(gsplit, 6) AS gini_split
      |FROM best WHERE rb = 1
      |ORDER BY source""".stripMargin,
  ) { (s, d) =>
    val doc = Tables.documents(s, d)
      .filter(col("source").isNotNull && col("n_chars").isNotNull
        && col("lang").isNotNull)
      .select(col("source"), col("n_chars").as("v"),
        when(col("lang") === "en", 1L).otherwise(0L).as("y"))
    val vc = doc.groupBy(col("source"), col("v"))
      .agg(count(lit(1)).cast("long").as("c"),
        sum(col("y")).cast("long").as("p"))
    val tot = vc.groupBy(col("source"))
      .agg(sum(col("c")).cast("long").as("n"),
        sum(col("p")).cast("long").as("pos"))
    val w = Window.partitionBy(col("source")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val pre = vc.join(tot, "source")
      .select(col("source"), col("v"), col("n"), col("pos"),
        sum(col("c")).over(w).cast("long").as("nl"),
        sum(col("p")).over(w).cast("long").as("pl"))
    val sc = pre.filter(col("nl") < col("n"))
      .withColumn("gsplit", expr(
        """(CAST(nl * nl - pl * pl - (nl - pl) * (nl - pl) AS DOUBLE)
          |   / CAST(nl AS DOUBLE)
          | + CAST((n - nl) * (n - nl) - (pos - pl) * (pos - pl)
          |     - ((n - nl) - (pos - pl)) * ((n - nl) - (pos - pl))
          |     AS DOUBLE)
          |   / CAST(n - nl AS DOUBLE)) / CAST(n AS DOUBLE)"""
          .stripMargin))
    val best = sc.withColumn("rb",
      row_number().over(Window.partitionBy(col("source"))
        .orderBy(col("gsplit"), col("v"))))
    best.filter(col("rb") === 1)
      .select(col("source"), col("n").as("n_docs"), col("pos").as("n_pos"),
        col("v").cast("long").as("best_threshold"),
        col("nl").as("n_left"), col("pl").as("pos_left"),
        round(expr(
          """CAST(n * n - pos * pos - (n - pos) * (n - pos) AS DOUBLE)
            |  / CAST(n AS DOUBLE) / CAST(n AS DOUBLE)""".stripMargin), 6)
          .as("gini_parent"),
        round(col("gsplit"), 6).as("gini_split"))
      .orderBy(col("source"))
  }

  /** TEMPERATURE-SCALED MIXTURE WEIGHTS — the multilingual/multi-source
    * sampling recipe (the XLM-R / mT5 device): raw source shares pᵢ are
    * flattened to pᵢ^(1/τ) and renormalized, here at τ = 2 (square
    * root), so head sources are down-sampled and tail sources up —
    * the operator q69's proportional mixture hands off to when the
    * corpus is skewed. The up/down-sampling factor w/p per source is
    * the number a data loader actually consumes.
    *
    * Exactness: counts are exact int64; √n is ONE IEEE sqrt of an
    * exact int (correctly rounded, bit-identical); the k-source
    * normalizer quantizes each √n to DECIMAL(18,9) for the associative
    * window total; weights and factors are fixed-order chains (the
    * factor through exact cross-multiplied counts: (√nᵢ/Σ√n)/(nᵢ/N) =
    * √nᵢ·N/(Σ√n·nᵢ)). Empty corpus → empty output.
    *
    * Plan: one source count, a k-row window finish. Scan-dominated.
    */
  val q271TemperatureMixture = Q(
    "q271_temperature_mixture",
    s"""WITH c AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS n
      |  FROM documents WHERE source IS NOT NULL GROUP BY 1
      |),
      |t AS (
      |  SELECT source, n,
      |    sqrt(CAST(n AS DOUBLE)) AS rt,
      |    CAST(sum(CAST(sqrt(CAST(n AS DOUBLE)) AS DECIMAL(18,9)))
      |      OVER () AS DOUBLE) AS srt,
      |    CAST(sum(n) OVER () AS BIGINT) AS nn
      |  FROM c
      |)
      |SELECT source, n AS n_docs,
      |  ${graft.functions.Exact.Sql.ratio6("n", "nn")} AS raw_share,
      |  round(rt / srt, 6) AS temp_share,
      |  round(rt * CAST(nn AS DOUBLE) / (srt * CAST(n AS DOUBLE)), 6)
      |    AS sampling_factor
      |FROM t
      |ORDER BY source""".stripMargin,
  ) { (s, d) =>
    val c = Tables.documents(s, d)
      .filter(col("source").isNotNull)
      .groupBy(col("source"))
      .agg(count(lit(1)).cast("long").as("n"))
    val wAll = Window.partitionBy()
    val t = c.select(col("source"), col("n"),
      sqrt(col("n").cast("double")).as("rt"),
      sum(expr("CAST(sqrt(CAST(n AS DOUBLE)) AS DECIMAL(18,9))"))
        .over(wAll).cast("double").as("srt"),
      sum(col("n")).over(wAll).cast("long").as("nn"))
    t.select(col("source"), col("n").as("n_docs"),
        graft.functions.Exact.ratio6("n", "nn").as("raw_share"),
        round(col("rt") / col("srt"), 6).as("temp_share"),
        round(expr("rt * CAST(nn AS DOUBLE) / (srt * CAST(n AS DOUBLE))"),
          6).as("sampling_factor"))
      .orderBy(col("source"))
  }

  /** TOPSIS SOURCE SCORECARD — multi-criteria ranking done honestly:
    * instead of an ad-hoc weighted sum, TOPSIS (Hwang–Yoon) normalizes
    * each metric by its root-sum-of-squares, finds the IDEAL and
    * ANTI-IDEAL corners, and scores each source by relative closeness
    * d⁻/(d⁺ + d⁻) — the standard "which data sources do we keep"
    * triage over volume (docs), mass (chars), and breadth (distinct
    * languages), all treated as benefits.
    *
    * Exactness: the three metrics are exact int64; each normalizer is
    * ONE IEEE sqrt of an exact int sum-of-squares (per-metric squares
    * cast DECIMAL(18,0)² → exact to 10³⁶); normalized values are one
    * divide each, ideal/anti-ideal are window max/min of identical
    * doubles, and both distances are EXPLICIT 3-term fixed-order
    * chains (no aggregation — parenthesization is the spec). A corpus
    * where every source is identical has d⁺ = d⁻ = 0 → NULL score
    * via nullif (stated).
    *
    * Plan: one per-source aggregate, window normalizers, a k-row
    * finish. Scan-dominated.
    */
  val q274Topsis = Q(
    "q274_topsis",
    """WITH m AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS docs,
      |    CAST(sum(n_chars) AS BIGINT) AS chars,
      |    CAST(count(DISTINCT lang) AS BIGINT) AS langs
      |  FROM documents
      |  WHERE source IS NOT NULL AND n_chars IS NOT NULL
      |    AND lang IS NOT NULL
      |  GROUP BY 1
      |),
      |nrm AS (
      |  SELECT source, docs, chars, langs,
      |    CAST(docs AS DOUBLE)
      |      / sqrt(CAST(sum(CAST(docs AS DECIMAL(18,0))
      |        * CAST(docs AS DECIMAL(18,0))) OVER () AS DOUBLE)) AS v1,
      |    CAST(chars AS DOUBLE)
      |      / sqrt(CAST(sum(CAST(chars AS DECIMAL(18,0))
      |        * CAST(chars AS DECIMAL(18,0))) OVER () AS DOUBLE)) AS v2,
      |    CAST(langs AS DOUBLE)
      |      / sqrt(CAST(sum(CAST(langs AS DECIMAL(18,0))
      |        * CAST(langs AS DECIMAL(18,0))) OVER () AS DOUBLE)) AS v3
      |  FROM m
      |),
      |bd AS (
      |  SELECT source, docs, chars, langs, v1, v2, v3,
      |    max(v1) OVER () AS b1, max(v2) OVER () AS b2,
      |    max(v3) OVER () AS b3,
      |    min(v1) OVER () AS w1, min(v2) OVER () AS w2,
      |    min(v3) OVER () AS w3
      |  FROM nrm
      |),
      |ds AS (
      |  SELECT source, docs, chars, langs,
      |    sqrt((v1 - b1) * (v1 - b1) + (v2 - b2) * (v2 - b2)
      |      + (v3 - b3) * (v3 - b3)) AS dplus,
      |    sqrt((v1 - w1) * (v1 - w1) + (v2 - w2) * (v2 - w2)
      |      + (v3 - w3) * (v3 - w3)) AS dminus
      |  FROM bd
      |)
      |SELECT source, docs AS n_docs, chars AS n_chars,
      |  langs AS n_langs,
      |  round(dminus / nullif(dplus + dminus, CAST(0 AS DOUBLE)), 6)
      |    AS topsis_score,
      |  CAST(row_number() OVER (ORDER BY
      |    dminus / nullif(dplus + dminus, CAST(0 AS DOUBLE)) DESC
      |      NULLS LAST, source) AS BIGINT) AS rank
      |FROM ds
      |ORDER BY source""".stripMargin,
  ) { (s, d) =>
    val m = Tables.documents(s, d)
      .filter(col("source").isNotNull && col("n_chars").isNotNull
        && col("lang").isNotNull)
      .groupBy(col("source"))
      .agg(count(lit(1)).cast("long").as("docs"),
        sum(col("n_chars")).cast("long").as("chars"),
        countDistinct(col("lang")).cast("long").as("langs"))
    val wAll = Window.partitionBy()
    def nv(c: String): Column =
      col(c).cast("double") /
        sqrt(sum(expr(s"""CAST($c AS DECIMAL(18,0))
          |  * CAST($c AS DECIMAL(18,0))""".stripMargin)).over(wAll)
          .cast("double"))
    val nrm = m.select(col("source"), col("docs"), col("chars"),
      col("langs"), nv("docs").as("v1"), nv("chars").as("v2"),
      nv("langs").as("v3"))
    val bd = nrm.select(col("source"), col("docs"), col("chars"),
      col("langs"), col("v1"), col("v2"), col("v3"),
      max(col("v1")).over(wAll).as("b1"),
      max(col("v2")).over(wAll).as("b2"),
      max(col("v3")).over(wAll).as("b3"),
      min(col("v1")).over(wAll).as("w1"),
      min(col("v2")).over(wAll).as("w2"),
      min(col("v3")).over(wAll).as("w3"))
    val ds = bd.select(col("source"), col("docs"), col("chars"),
      col("langs"),
      sqrt((col("v1") - col("b1")) * (col("v1") - col("b1"))
        + (col("v2") - col("b2")) * (col("v2") - col("b2"))
        + (col("v3") - col("b3")) * (col("v3") - col("b3"))).as("dplus"),
      sqrt((col("v1") - col("w1")) * (col("v1") - col("w1"))
        + (col("v2") - col("w2")) * (col("v2") - col("w2"))
        + (col("v3") - col("w3")) * (col("v3") - col("w3"))).as("dminus"))
    val score = col("dminus") /
      nullif(col("dplus") + col("dminus"), lit(0.0))
    ds.select(col("source"), col("docs").as("n_docs"),
        col("chars").as("n_chars"), col("langs").as("n_langs"),
        round(score, 6).as("topsis_score"),
        row_number().over(Window.orderBy(score.desc_nulls_last,
          col("source"))).cast("long").as("rank"))
      .orderBy(col("source"))
  }
}
