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
  * either way) but defers materialization (`eager = false`): all pinned
  * frames execute as chained stages inside the ONE action that consumes
  * the final result. The physical plan of the pinned frame is still fixed
  * at the `pin` call; only execution timing moves.
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
  * instead (the dedup token dictionaries' interned ids are such frames).
  */
object Iter {
  def pin(df: DataFrame): DataFrame = df.localCheckpoint(eager = false)
}
