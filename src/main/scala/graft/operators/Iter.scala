package graft.operators

import org.apache.spark.sql.DataFrame

/** Plan pinning for reused/iterated frames (PageRank, BFS, k-core, label
  * propagation, pointer jumping, the dedup index builds).
  *
  * Every pinned frame is a `localCheckpoint` so the Catalyst plan stays
  * O(1) in the iteration count (the q74 lesson) and so a frame consumed by
  * several branches is instantiated once. The checkpoint used to be EAGER,
  * which also made every pin a separate driver action: an 8-round PageRank
  * paid 8 sequential job round trips before the query's own action ran —
  * pure driver latency, ~0.15–0.3 s per round on the r20 box, invisible at
  * cluster scale per-job but multiplied by every iterative query in the
  * bench (guide §5: the driver should do almost no work; §2.6: actions are
  * sequential only because the driver calls them sequentially).
  *
  * [[pin]] keeps the plan truncation (the returned frame is LogicalRDD
  * either way) but defers materialization (`eager = false`) — of the
  * pinned frame's FINAL stage only. Under AQE the checkpoint RDD is cut
  * from the executed physical plan, and executing it materializes every
  * shuffle and broadcast query stage below that final stage at the `pin`
  * call, in the builder. Measured with Spark 4.1.2, `local[2]`, AQE on,
  * sf0.001: a lazy pin over two aggregates and a join ran 3 jobs at the
  * call; later consumers re-ran none of them. So a pin over an exchange
  * still costs builder jobs (q200, the one sampled registry query with a
  * pin, ran 9 in a trace), and an iterative builder that pins every
  * round runs each round's shuffles as builder jobs. Traced through a
  * Spark event log (sf0.1, `local[4]`, jobs grouped by the SQL execution
  * that submitted them): one q113 build ran 51 jobs under its 10 pins,
  * 2 for `nodes.count()` and 1 schema inference; one q157 build ran 18
  * under its 5 pins and 2 schema inferences. Neither builder has a
  * convergence check. What the lazy form saves is the final stage's
  * job, which now runs inside the consuming action.
  *
  * Consistency contract (r20 ADVICE): a lazily checkpointed RDD is stored
  * on first materialization and normally computes once — on one executor
  * the block manager's per-block lock (`getOrElseUpdate`) serializes
  * concurrent consumers, so local[n] (the bench/oracle environment) is
  * compute-once in practice. Across executors of a real cluster two
  * concurrent consumers MAY each compute a partition before either stores
  * it, so cross-consumer bit-identity ultimately relies on the pinned plan
  * being DETERMINISTIC given its inputs. Every currently pinned plan is
  * (hash/integer keys, order-insensitive min/max/struct-argmin picks, or
  * float aggregates whose consumers tolerate one materialization per run);
  * do NOT pin a sampled, rand()- or monotonically_increasing_id-bearing
  * frame — give it an explicit eager `localCheckpoint(true)` and a comment
  * instead (Dedup.internedSorted's interned token ids are such a frame).
  */
object Iter {
  def pin(df: DataFrame): DataFrame = df.localCheckpoint(eager = false)
}
