package graft

import graft.operators.Fan
import java.nio.file.Files

import graft.queries.Dedup
import org.apache.spark.sql.functions._

/** The ingest-time LSH contract: deduplicating a new batch against a
  * PERSISTED signature index must find exactly the pairs a full recompute
  * over the grown corpus would — no more (no phantom candidates from stale
  * state), no fewer (no near-dup slips past because its partner's
  * signatures were only on disk).
  */
class IncrementalDedupSpec extends SparkSpec {

  private def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select(col("doc_a"), col("doc_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("incremental batch dedup equals the full recompute, disjointly") {
    val corpus = Fan.fan(Tables.documents(spark, sf))
      .select(col("doc_id"), col("text"))
    val old = corpus.filter(col("doc_id") % 3 =!= 0)
    val fresh = corpus.filter(col("doc_id") % 3 === 0)

    // the index is persisted and re-read: what survives between ingest runs
    // is parquet bytes, not a cached plan
    val dir = Files.createTempDirectory("lsh-index").toString
    Dedup.minhashIndex(old).write.mode("overwrite").parquet(dir)
    val stored = spark.read.parquet(dir)

    val full = pairs(Dedup.nearDups(corpus))
    val oldOnly = pairs(Dedup.nearDups(old))
    val inc = pairs(Dedup.incrementalNearDups(fresh, stored, corpus))

    assert(full.nonEmpty, "fixture must produce near-dup pairs")
    assert(inc.nonEmpty, "the new batch must contribute pairs")
    // every incremental pair touches the new batch; old-old pairs never
    // reappear (they were found when THEIR batch arrived)
    assert(inc.forall { case (a, b) => a % 3 == 0 || b % 3 == 0 })
    assert((oldOnly & inc) === Set.empty)
    assert((oldOnly | inc) === full,
      s"missing=${full -- oldOnly -- inc} phantom=${(oldOnly | inc) -- full}")
  }

  test("a chain tombstone forgets a document from the persisted dedup index") {
    // Right-to-be-forgotten PROPAGATES INTO DERIVED STATE: the signature
    // index rides the tombstoned delta chain (keyed (doc_id, band)), so
    // deleting a document's index rows via the ordinary tombstone path
    // makes later incremental dedup stop pairing against it — no bespoke
    // index-invalidation machinery, just readSnapshot's replay. Pure
    // composition of the two public surfaces (Export chain + LSH index).
    import graft.vera.{Export, Schemas}
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val old = Seq(
      100L -> base,
      200L -> s"$base kilo",
      300L -> "november oscar papa quebec romeo sierra tango uniform victor")
      .toDF("doc_id", "text")
    val cfg = graft.vera.TableConfig("lshidx",
      Schemas.fromDtypes(Seq(
        "doc_id" -> "Int64", "ns" -> "Int64", "b" -> "Int32",
        "s0" -> "Int64", "s1" -> "Int64", "s2" -> "Int64",
        "updated_at" -> "datetime64[ns]")),
      chunkSize = 100, numChunksPerFile = 100, compression = None)
    val out = Files.createTempDirectory("lsh-chain").toString
    def stamped(df: org.apache.spark.sql.DataFrame, t: String) =
      df.withColumn("updated_at",
        lit(java.time.LocalDateTime.parse(t)).cast("timestamp_ntz"))
    Export.exportIncremental(Seq((
      stamped(Dedup.minhashIndex(old), "2024-01-01T00:00:00"),
      cfg, Seq("doc_id", "b"))), out, 1000L)

    // doc 100 exercises its erasure right: tombstone its 5 index rows
    val tomb = (0 until 5).map(b => (100L, b)).toDF("doc_id", "b")
    Export.exportIncremental(
      Seq((stamped(Dedup.minhashIndex(old.limit(0)), "2024-01-01T00:00:00"),
        cfg, Seq("doc_id", "b"))),
      out, 2000L, deletes = Map("lshidx" -> tomb))

    val stored = Export.readSnapshot(out, cfg, Seq("doc_id", "b"), spark)
      .drop("updated_at")
    assert(stored.filter(col("doc_id") === 100L).count() === 0)
    assert(stored.filter(col("doc_id") === 200L).count() === 5)

    // a new near-identical doc pairs with the SURVIVING twin only — the
    // forgotten document no longer exists for the dedup pipeline
    val fresh = Seq(900L -> s"$base kilo").toDF("doc_id", "text")
    val remaining = old.filter(col("doc_id") =!= 100L)
    val inc = pairs(Dedup.incrementalNearDups(
      fresh, stored, remaining.unionByName(fresh)))
    assert(inc.contains((200L, 900L)), s"surviving twin must pair: $inc")
    assert(inc.forall { case (a, b) => a != 100L && b != 100L },
      s"forgotten doc resurfaced: $inc")
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

  test("a 3-batch streaming drain equals the one-shot corpus recompute") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val corpus = Fan.fan(Tables.documents(spark, sf))
      .select(col("doc_id"), col("text"))
    val rows = corpus.collect().map(r => (r.getLong(0), r.getString(1)))
    val batches = rows.groupBy(_._1 % 3).toSeq.sortBy(_._1).map(_._2.toSeq)

    val root = Files.createTempDirectory("ingest-dedup").toString
    val in = MemoryStream[(Long, String)]
    val q = Dedup.streamIngestDedup(
      in.toDF().toDF("doc_id", "text"), s"$root/state", s"$root/pairs")
    try {
      batches.foreach { b => in.addData(b); q.processAllAvailable() }
    } finally q.stop()

    val streamed = pairs(spark.read.parquet(s"$root/pairs/batch_*"))
    val full = pairs(Dedup.nearDups(corpus))
    assert(full.nonEmpty && streamed.nonEmpty)
    assert(streamed === full,
      s"missing=${full -- streamed} phantom=${streamed -- full}")
  }

  test("replaying a micro-batch leaves its pairs output unchanged") {
    // the at-least-once contract: foreachBatch may re-run a batch id whose
    // state writes already landed. The replay must not see its own first
    // attempt's docs as corpus (that would double rows on the verify side
    // and inflate jaccard into phantom pairs) — ingestBatch excludes
    // batch_<id> from the state listing, so the re-run is byte-identical.
    val corpus = Fan.fan(Tables.documents(spark, sf))
      .select(col("doc_id"), col("text"))
    val b0 = corpus.filter(col("doc_id") % 3 =!= 0)
    val b1 = corpus.filter(col("doc_id") % 3 === 0)
    val root = Files.createTempDirectory("ingest-replay").toString

    Dedup.ingestBatch(b0, 0L, s"$root/state", s"$root/pairs")
    Dedup.ingestBatch(b1, 1L, s"$root/state", s"$root/pairs")
    val first = spark.read.parquet(s"$root/pairs/batch_1")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

    // crash-after-state-write, then redelivery of the same batch id
    Dedup.ingestBatch(b1, 1L, s"$root/state", s"$root/pairs")
    val replayed = spark.read.parquet(s"$root/pairs/batch_1")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

    assert(first.nonEmpty, "fixture must produce pairs in batch 1")
    assert(replayed === first,
      s"phantom=${replayed -- first} lost=${first -- replayed}")
    // and the drained result still equals the one-shot recompute
    val streamed = pairs(spark.read.parquet(s"$root/pairs/batch_*"))
    assert(streamed === pairs(Dedup.nearDups(corpus)))
  }

  test("incremental verify re-shingles only candidate-touched documents") {
    val corpus = Fan.fan(Tables.documents(spark, sf))
      .select(col("doc_id"), col("text"))
    val old = corpus.filter(col("doc_id") % 3 =!= 0)
    val fresh = corpus.filter(col("doc_id") % 3 === 0)
    val stored = Dedup.minhashIndex(old)
    val plan = Dedup.incrementalNearDups(fresh, stored, corpus)
      .queryExecution.executedPlan.toString
    // the corpus reaches the verify join through a semi join on the
    // candidate closure — not as a bare full-corpus shingle explode
    assert(plan.contains("LeftSemi"),
      s"verify side lost its candidate-closure prune:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoop"), plan)
  }
}
