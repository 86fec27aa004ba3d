package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

/** ORDERED-BIN DEVICES — the scale-parallel forms of the order-dependent
  * windows that put a whole (or a low-cardinality partition's whole) frame
  * into ONE task: a global rank / ntile ([[rankPar]], [[ntilePar]]), a
  * running sum ([[prefixSumPar]]) and the per-type consecutive gap
  * ([[typeGapsCarry]]). The round-16 ×100 genscale axis measured such
  * windows going exponent ~1.0 with 5-way parallelism — the classic
  * low-cardinality-partition serialization, invisible at ×1/×10 where
  * constants dominate.
  *
  * Every device runs the same plan step, [[route]]:
  *
  *   - ZERO-JOB dispatch (r18): when [[PlanStats]]' row upper bound
  *     PROVES the frame is below the threshold from the logical plan +
  *     parquet footers, the plain window runs with no probe job; a NULL
  *     key then fails loudly via an assert sort key ([[nullGuardKey]]);
  *   - otherwise ONE probe pass: row count, non-null key count, the key's
  *     quantile edge sketch and the tie sketch, in one HashAggregate. The
  *     probe reads counts only (no getLong on the key's own type — q176's
  *     INT32 n_chars threw ClassCastException on an old min/max read
  *     exactly at the 2M-row dispatch). NULL keys are refused: the large
  *     path's bin equi-join would drop them while the window keeps them
  *     nulls-first, so the two "bit-identical" paths would disagree;
  *   - empty or below-threshold input takes the window path, so the
  *     output schema always comes from the input;
  *   - above it: SAMPLED-QUANTILE bins of the key (r18) plus tie sub-bins
  *     for hot key values (r19). Any MONOTONE function of the key is a
  *     valid binning — (bin, sbin) blocks are contiguous runs of the total
  *     order — so edges are pure plan, never answer: any edge set yields
  *     bit-identical output (the adversarial-edges net), and sketch
  *     nondeterminism can never reach an answer. Quantile edges are the
  *     shape-agnostic monotone function: mass-balanced on tails, reverse
  *     tails, lognormal bodies and bursty clumps alike, where every
  *     closed-form transform has a collapsing counterexample (BucketsSpec
  *     pins exponential, reverse-exponential and lognormal fixtures). The
  *     per-row lookup is the codegen'd binary search
  *     [[graft.functions.BucketI64]].
  *
  * The large paths: rank and running sum are ONE body, [[binnedPrefix]]
  * (a rank is the running count); the gap stage is [[binLagGapPath]].
  * Input keys must be non-null and integral (lossless long cast).
  */
object OrderedBins {

  /** Below this row count the plain window wins: the large path's fixed
    * costs (a sketch probe plus a block shuffle) outweigh the window's
    * serialization ceiling, which is still invisible at sf0.1's 10⁵ rows
    * (the crossover, measured for the gap stage's two-level device
    * bin-lag replaced, lies between ×10's 10⁶ — a wash — and ×100's 10⁷
    * — 3–4× for the parallel path). Both paths produce BIT-IDENTICAL
    * rows, so the dispatch is a pure physical-plan choice,
    * oracle-invisible. */
  private[graft] val WindowMaxRows = 2000000L

  /** What [[route]] chose for a frame. */
  private sealed trait Route

  /** The plain window path under `order` — led by the NULL-guard sort key
    * when the zero-job dispatch skipped the probe. */
  private final case class Windowed(order: Seq[Column]) extends Route

  /** The bin plan: `order` within a block, `bin` the key's quantile
    * bucket, `sbin` the hot-value tie sub-bin. */
  private final case class Binned(order: Seq[Column], bin: Column,
      sbin: Column) extends Route {
    def on(df: DataFrame): DataFrame =
      df.withColumn("bin", bin).withColumn("sbin", sbin)
  }

  /** THE plan step of every device: dispatch, probe, NULL refusal,
    * fallbacks, edges and hot values (see the object notes). `device`
    * names the caller in both NULL refusals. */
  private def route(device: String, df: DataFrame, key: String,
      desc: Boolean, tie: Seq[String], threshold: Long,
      edgesOverride: Option[Array[Long]],
      subbinOverride: Option[(Array[Long], Array[Long])]): Route = {
    val order = (if (desc) col(key).desc else col(key).asc) +: tie.map(col)
    if (PlanStats.rowUpperBound(df).exists(_ < threshold))
      return Windowed(nullGuardKey(device, key).asc +: order)
    val tieL = integralTie(df, tie)
    val probe = Seq(count(lit(1)), count(col(key)),
      sketch(key, EdgeFractions)) ++ tieL.map(sketch(_, TieFractions))
    val mm = df.agg(probe.head, probe.tail: _*).head
    val (rows, nulls) = (mm.getLong(0), mm.getLong(0) - mm.getLong(1))
    require(nulls == 0L,
      s"$device: key '$key' has $nulls NULL rows — callers must pre-filter " +
        "(window and large paths disagree on NULL keys)")
    if (rows == 0L || rows < threshold) Windowed(order)
    else {
      val edges = edgesOverride.getOrElse(
        mm.getSeq[Long](2).distinct.sorted.toArray)
      val (hot, tieEdges) = hotPlanOf(mm, tieL, edges,
        edgesOverride.isDefined, subbinOverride)
      Binned(order, bucketCol(key, edges, desc),
        subbinCol(key, tieL, hot, tieEdges))
    }
  }

  /** THE cross-bin prefix (r17): per-(part, bin, sbin) sums of each value
    * → an exclusive prefix over the bin frame (≤4096 rows per part, plus
    * hot-value sub-bins — broadcast-sized) → in-bin running sums → one
    * broadcast join; each `sums` name = prefix + in-bin. Bit-identical to
    * the window (integer sums are associative). With `total`, every row
    * also carries its part's total of the first value, summed off the same
    * bin frame — never a data-scale partitionless window. Output: the
    * input columns, then the `sums` names, then `total`. */
  private def binnedPrefix(df: DataFrame, bins: Binned, part: Seq[String],
      sums: Seq[(String, Column)], total: Option[String]): DataFrame = {
    val block = (part :+ "bin" :+ "sbin").map(col)
    val binned = bins.on(df)
    val partials =
      sums.map { case (n, v) => sum(v).cast("long").as(s"bs_$n") }
    val binSums = binned.groupBy(block: _*)
      .agg(partials.head, partials.tail: _*)
    val pw = Window.partitionBy(part.map(col): _*)
    val binBefore = binSums.select(
      part.map(c => col(c).as(s"b_$c")) ++
        Seq(col("bin").as("b_bin"), col("sbin").as("b_sbin")) ++
        sums.map { case (n, _) => coalesce(
          sum(col(s"bs_$n")).over(pw.orderBy(col("bin"), col("sbin"))
            .rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)).as(s"before_$n") } ++
        total.map(t =>
          sum(col(s"bs_${sums.head._1}")).over(pw).cast("long").as(t)): _*)
    val inb = Window.partitionBy(block: _*).orderBy(bins.order: _*)
      .rowsBetween(Window.unboundedPreceding, 0)
    sums.foldLeft(binned) { case (acc, (n, v)) =>
        acc.withColumn(s"inb_$n", sum(v).over(inb).cast("long")) }
      .join(broadcast(binBefore), // null-safe: a NULL part is a partition
        part.map(c => col(c) <=> col(s"b_$c"))
          .foldLeft(col("bin") === col("b_bin")
            && col("sbin") === col("b_sbin"))(_ && _))
      .select(df.columns.map(col) ++
        sums.map { case (n, _) =>
          (col(s"before_$n") + col(s"inb_$n")).as(n) } ++
        total.map(col): _*)
  }

  /** SCALE-PARALLEL PER-TYPE CONSECUTIVE GAPS — the shared gap stage of
    * the seven gap-family operators (q234/q246/q257/q266/q278/q296/q317)
    * and, with START-ROW carry columns, of q151/q152 (r17): each output
    * gap row additionally carries the named columns of the gap's EARLIER
    * endpoint — q152 needs the gap's start timestamp for its argmax, q151
    * the start sample's value for the time-weighted area vc·Δ. A per-type
    * `lag` window puts each type's entire history in ONE task — 2M
    * rows/task at ×100, unbounded at 100 TB.
    *
    * Above the threshold the stage runs [[binLagGapPath]]: one shuffle on
    * deterministic quantile time bins, the same (us, event_id) total
    * order, bit-identical gaps (A/B receipts against the two-level rank +
    * self-join device it replaced: OPTIMIZATION_r20.md §2). Below it the
    * plain lead window runs. Identical-timestamp clumps — the gap family's
    * hot-key shape — split across event_id tie sub-bins.
    *
    * Input must be (event_type, event_id, us) with non-null type/us
    * (callers already filter); carry names must exist in `e` and not
    * collide with (event_type, gp). Output: (event_type, carry..., gp) —
    * one row per consecutive pair, gp = us-difference ≥ 0, types with one
    * event contribute nothing (exactly the lag-NOT-NULL semantics).
    */
  private[graft] def typeGapsCarry(
      e: DataFrame,
      carry: Seq[String] = Nil,
      // overridable ONLY so the suite can force each path (and arbitrary
      // bins on the large one) on fixture-sized data and assert
      // bit-equality; production callers use the measured default
      threshold: Long = WindowMaxRows,
      edgesOverride: Option[Array[Long]] = None): DataFrame =
    route("typeGapsCarry", e, "us", desc = false, Seq("event_id"),
        threshold, edgesOverride, None) match {
      case Windowed(order) =>
        e.select(col("event_type") +: carry.map(col) :+
            (lead(col("us"), 1).over(
              Window.partitionBy(col("event_type")).orderBy(order: _*))
              - col("us")).as("gp"): _*)
          .filter(col("gp").isNotNull)
      case bins: Binned => binLagGapPath(e, carry, bins)
    }

  /** r20 — the ONE-SHUFFLE gap stage (the r19 verdict's Next #1): the
    * two-level rank device computed gaps via probe(+sketches) → 4096-bin
    * rank → (type, i)=(type, i′+1) equi-self-join — ~three shuffles of
    * the full event frame for what is semantically one sort + lag. This
    * path is the lag formulation over deterministic bins:
    *
    *   bin = quantile bucket of us (+ tie sub-bin for hot values)
    *   → ONE hash exchange on (type, bin, sbin)
    *   → lead(us) window inside each block         — the within gaps
    *   ∪ per-block (min us, max (us, event_id, carry)) aggregate
    *     (map-side combined, KB-sized) → lead over blocks per type
    *                                               — the cross gaps
    *
    * Block order (bin asc, sbin asc) refines the global (us, event_id)
    * order (bucketCol/subbinCol are monotone), so every consecutive pair
    * is either inside a block (the window) or spans two adjacent non-empty
    * blocks (the boundary lead), never both. That holds for ANY sorted
    * edge array — which is why the suite's edge overrides may force
    * arbitrary bins here; only task balance changes.
    *
    * Why not the r20-draft mapPartitions range-shuffle version: measured
    * at ×1000 it spent >12 min in per-row Seq-concat + external-Row
    * encoding + an event-scale localCheckpoint that unrolled 100M rows
    * into the heap (old gen 84%, BlockManager PartiallyUnrolledIterator
    * in every hot stack — guide §4/§5). This formulation is whole-stage
    * codegen end to end, pins NOTHING event-sized (the only reused
    * frames are deterministic plans, so the union's two subtrees can
    * re-derive them consistently; the boundary subtree rides its own
    * map-side-combined aggregate instead of the window's output), and
    * keeps the one full exchange. A/B receipts: OPTIMIZATION_r20.md §2.
    */
  private def binLagGapPath(
      e: DataFrame,
      carry: Seq[String],
      bins: Binned): DataFrame = {
    val binned = bins.on(e)
    val w = Window
      .partitionBy(col("event_type"), col("bin"), col("sbin"))
      .orderBy(col("us"), col("event_id"))
    val within = binned
      .select(col("event_type") +: carry.map(col) :+
        (lead(col("us"), 1).over(w) - col("us")).as("gp"): _*)
      .filter(col("gp").isNotNull)
    // carry fields ride the struct under c_ aliases so carrying the sort
    // key itself ("us", the q152 shape) cannot collide; (us, event_id) is
    // a unique prefix, so the struct max IS the block's last row and its
    // carry values are never part of the comparison
    val lastStruct = struct(
      col("us").as("s_us") +: col("event_id").as("s_eid") +:
        carry.zipWithIndex.map { case (c, j) => col(c).as(s"c_$j") }: _*)
    val b = binned
      .groupBy(col("event_type"), col("bin"), col("sbin"))
      .agg(min(col("us")).as("f_us"), max(lastStruct).as("l"))
    val bw = Window.partitionBy(col("event_type"))
      .orderBy(col("bin"), col("sbin"))
    val cross = b
      .withColumn("nf", lead(col("f_us"), 1).over(bw))
      .filter(col("nf").isNotNull)
      .select(col("event_type") +:
        carry.zipWithIndex.map { case (c, j) => col(s"l.c_$j").as(c) } :+
        (col("nf") - col("l.s_us")).as("gp"): _*)
    within.union(cross)
  }

  /** Interior quantile fractions for the 4096-bin edge sample (r18):
    * 4095 cuts at i/4096. */
  private val EdgeFractions: Seq[Double] =
    (1 to 4095).map(_.toDouble / 4096)

  /** Sketch accuracy: the quantile sketch's relative-rank error is
    * ~1/accuracy, so 10⁴ puts each edge within ~0.4 bin-widths of its
    * nominal mass cut — worst bins stay O(1/4096) of the mass. */
  private val EdgeAccuracy = 10000

  /** A probe sketch column: a one-pass mergeable quantile sketch of
    * CAST(c AS LONG) at `fractions` (lossless on the integral-key and
    * integral-tie contracts). */
  private def sketch(c: String, fractions: Seq[Double]): Column =
    percentile_approx(col(c).cast("long"),
      typedLit(fractions), lit(EdgeAccuracy))

  // ---- hot-key tie sub-binning (r19, the r18 verdict's Next #1) -------
  //
  // Quantile edges are deduplicated, so ALL rows sharing one key value
  // land in one bin by construction — no monotone binning of the key can
  // split equal keys, and a rank key with a 30%-mass value (an integer
  // score, a default/sentinel, replicated n_chars) serialized 30% of the
  // corpus into ONE in-bin row_number task. The fix is the device's own
  // trick applied once more, to the TIE: inside a bin whose smallest
  // (asc; largest desc) value is a HOT key value, sub-bin that value's
  // rows by a monotone function of the first tie column. Soundness:
  //   - a hot value v (≥ HotMinRepeats raw sketch repeats ⇒ ≳0.2% mass)
  //     is by construction a member of the deduplicated edge array, and
  //     an edge value is always the asc-MINIMUM (desc-MAXIMUM) of its own
  //     bin — so v's rows sort FIRST within the bin on either direction,
  //     and every other (non-hot) value in that bin sorts after them;
  //   - within v's rows the total order is tie order alone (key equal),
  //     and bucket(tie) is monotone in tie — so (bin, sbin) lexicographic
  //     blocks remain CONTIGUOUS runs of the total order, the cross-bin
  //     exclusive prefix extends over (bin, sbin), and rank/prefix-sum
  //     answers are bit-identical (the same argument that made key
  //     binning pure plan applies verbatim to the tie);
  //   - non-hot rows take a sentinel sub-bin AFTER every tie bucket, and
  //     NULL ties (nulls-first under the ascending tie order) take -1,
  //     BEFORE every bucket.
  // Worst-task mass drops from max(hot-key mass, 1/4096 + ε) to
  // ≈ max(HotMinRepeats/4096, hot-mass/256, 1/4096 + ε): a 90%-hot key
  // now spreads over ~256 tie sub-bins instead of one task. Tie edges
  // ride the SAME single probe pass (one more quantile sketch in the
  // same HashAggregate). Sub-binning applies when the first tie column
  // is integral (event_id/user_id/doc_id — every production consumer);
  // a non-integral or absent tie keeps the r18 behavior, documented.
  // A hot value whose TIE is also constant (fully duplicate rows) cannot
  // be spread by any order-preserving device — that residue is the
  // genuinely serialized content.

  /** Tie-edge fractions: 255 interior cuts — 256 sub-bins per hot value
    * bound the bin frame at 4096 + 512·257 ≈ 136k rows (still a
    * broadcast-sized frame). */
  private val TieFractions: Seq[Double] = (1 to 255).map(_.toDouble / 256)

  /** Raw-sketch repeat threshold: a value occupying ≥ 8 of the 4095
    * sampled cuts carries ≳ 8/4096 ≈ 0.2% of the mass — above that, one
    * bin = one task is already 8× nominal. At most 4095/8 ≈ 511 values
    * can qualify. */
  private val HotMinRepeats = 8

  /** Sentinel sub-bin for non-hot rows sharing a hot value's bin: they
    * are > v (asc) / < v (desc), so they sort AFTER every tie bucket. */
  private val SubbinOther = 1000000L

  /** The first tie column iff its type is integral (sub-binnable: the
    * bucket lookup needs a lossless long cast). */
  private def integralTie(df: DataFrame, tie: Seq[String]): Option[String] =
    tie.headOption.filter { t =>
      df.schema(t).dataType match {
        case ByteType | ShortType | IntegerType | LongType => true
        case _ => false
      }
    }

  /** Hot key values off the RAW (duplicate-preserving) probe sketch —
    * every returned value is necessarily a member of the deduplicated
    * edge array. */
  private def hotValuesOf(raw: Seq[Long]): Array[Long] =
    raw.groupBy(identity)
      .collect { case (v, occ) if occ.size >= HotMinRepeats => v }
      .toArray.sorted

  /** The sub-bin column: tie buckets for hot-key rows (NULL tie → -1,
    * nulls-first), the AFTER-sentinel for everything else; constant 0
    * when sub-binning is off (absent/non-integral tie, or no hot keys). */
  private def subbinCol(key: String, tieLong: Option[String],
      hot: Array[Long], tieEdges: Array[Long]): Column =
    tieLong match {
      case Some(t) if hot.nonEmpty =>
        when(col(key).cast("long").isin(hot.map(Long.box): _*),
          coalesce(
            call_function("graft_bucket", col(t).cast("long"),
              typedLit(tieEdges.toSeq), lit(false)),
            lit(-1L)))
          .otherwise(lit(SubbinOther))
      case _ => lit(0L)
    }

  /** Resolve (hot values, tie edges) for the large path: test overrides
    * win (hot must be ⊆ edges — enforced), otherwise hot detection reads
    * the raw key sketch (probe column 2) and tie edges the tie sketch
    * (column 3), both off the SAME probe row. Explicit key-edge overrides
    * disable sampling-derived hot detection (the raw sketch no longer
    * matches the edges in force). */
  private def hotPlanOf(mm: Row, tieL: Option[String], edges: Array[Long],
      edgesOverridden: Boolean,
      subbinOverride: Option[(Array[Long], Array[Long])])
      : (Array[Long], Array[Long]) = {
    val plan = subbinOverride match {
      case Some(p) => p
      case None if tieL.isDefined && !edgesOverridden =>
        val h = hotValuesOf(mm.getSeq[Long](2))
        if (h.isEmpty) (Array.empty[Long], Array.empty[Long])
        else {
          val te = Option(mm.getSeq[Long](3))
            .map(_.distinct.sorted.toArray).getOrElse(Array.empty[Long])
          (h, te)
        }
      case _ => (Array.empty[Long], Array.empty[Long])
    }
    val edgeSet = edges.toSet
    require(plan._1.forall(edgeSet.contains),
      "hot sub-bin values must be members of the edge array (a hot value " +
        "is only its bin's boundary row when it IS an edge)")
    plan
  }

  /** Per-row bucket: |{edges ≤ k}| asc, |{edges ≥ k}| desc — both
    * monotone along the sort order (see [[graft.functions.BucketI64]]). */
  private def bucketCol(key: String, edges: Array[Long], desc: Boolean): Column =
    call_function("graft_bucket", col(key).cast("long"),
      typedLit(edges.toSeq), lit(desc))

  /** Loud NULL-key refusal for the ZERO-JOB window path (no probe ran, so
    * no require could): a leading all-null assert sort key — evaluates
    * per row, never reorders non-null rows (constant NULL prefix), and
    * raises on the first NULL key. */
  private def nullGuardKey(device: String, key: String): Column =
    assert_true(col(key).isNotNull,
      lit(s"$device: NULL key '$key' — callers must pre-filter (window " +
        "and large paths disagree on NULL keys)")).cast("long")

  /** SCALE-PARALLEL RANK over an int64 sort key (r17): `row_number() OVER
    * ([PARTITION BY part] ORDER BY key [DESC], tie...)` sorts the whole
    * frame (or a low-cardinality partition's whole frame) in ONE task when
    * the frame is corpus-proportional — the shape of every global
    * ntile/rank the r16 sweep's `Window.partitionBy` grep could not see
    * (partitionless `Window.orderBy` sites: deciles over USERS, ranks over
    * DOCS). The large path is [[binnedPrefix]] with the running count as
    * the rank: same total order (ties inside one key value land in one
    * bin and follow `tie`), so ranks are bit-identical to the window's;
    * the partition row count comes off the same bin frame.
    *
    * Output: the input columns plus `i` (1-based rank, long) and `nd`
    * (partition row count, long — the ntile/percentile denominator).
    */
  private[graft] def rankPar(
      df: DataFrame,
      key: String, desc: Boolean, tie: Seq[String],
      part: Seq[String] = Nil,
      // overridable ONLY for the suite's forced-path equality net
      threshold: Long = WindowMaxRows,
      // overridable ONLY for the suite's adversarial-edges net (edges are
      // pure plan: ANY array here must yield bit-identical output)
      edgesOverride: Option[Array[Long]] = None,
      // overridable ONLY for the suite's forced sub-bin nets: (hot key
      // values — must be ⊆ the edges in force — , tie edges); sub-bins
      // are pure plan too, any consistent pair must yield identical rows
      subbinOverride: Option[(Array[Long], Array[Long])] = None)
      : DataFrame =
    route("rankPar", df, key, desc, tie, threshold, edgesOverride,
        subbinOverride) match {
      case Windowed(order) =>
        val w = Window.partitionBy(part.map(col): _*)
        df.withColumn("i",
            row_number().over(w.orderBy(order: _*)).cast("long"))
          .withColumn("nd", count(lit(1)).over(w).cast("long"))
      case bins: Binned =>
        binnedPrefix(df, bins, part, Seq("i" -> lit(1L)), Some("nd"))
    }

  /** SCALE-PARALLEL NTILE built on [[rankPar]]: over a deterministic
    * total order, `ntile(k)` is a closed-form function of (rank, n) —
    * with q = n div k, r = n mod k the first r tiles take q + 1 rows —
    * so two integer divides replace the single-task sort, bit-identical
    * to the window's assignment (n < k degenerates to tile = rank, the
    * window's semantics). Output: the input columns plus `tile`
    * (1-based, long).
    */
  private[graft] def ntilePar(
      df: DataFrame, k: Int,
      key: String, desc: Boolean, tie: Seq[String],
      part: Seq[String] = Nil,
      threshold: Long = WindowMaxRows): DataFrame =
    rankPar(df, key, desc, tie, part, threshold)
      .withColumn("tile", expr(
        s"""CASE WHEN nd % $k = 0 THEN (i - 1) div (nd div $k) + 1
           |  WHEN i <= (nd % $k) * (nd div $k + 1)
           |    THEN (i - 1) div (nd div $k + 1) + 1
           |  ELSE nd % $k
           |    + (i - (nd % $k) * (nd div $k + 1) - 1) div (nd div $k)
           |    + 1 END""".stripMargin).cast("long"))
      .drop("i", "nd")

  /** SCALE-PARALLEL RUNNING SUM over an int64 sort key (r17; q133's
    * inline collapsed-run form is the RANGE-frame variant): inclusive
    * rows-frame cumulative sums of `values` under the deterministic
    * ([key asc|desc], tie...) total order, partitioned by `part` (empty =
    * global — the q194/q195 doc-proportional prefix shape the r16 sweep
    * could not see). Adds `cum_<v>` per value column; the large path is
    * [[binnedPrefix]].
    */
  private[graft] def prefixSumPar(
      df: DataFrame,
      key: String, desc: Boolean, tie: Seq[String],
      values: Seq[String],
      part: Seq[String] = Nil,
      threshold: Long = WindowMaxRows,
      edgesOverride: Option[Array[Long]] = None,
      subbinOverride: Option[(Array[Long], Array[Long])] = None)
      : DataFrame =
    route("prefixSumPar", df, key, desc, tie, threshold, edgesOverride,
        subbinOverride) match {
      case Windowed(order) =>
        val w = Window.partitionBy(part.map(col): _*).orderBy(order: _*)
          .rowsBetween(Window.unboundedPreceding, 0)
        values.foldLeft(df)((acc, v) =>
          acc.withColumn(s"cum_$v", sum(col(v)).over(w).cast("long")))
      case bins: Binned =>
        binnedPrefix(df, bins, part, values.map(v => s"cum_$v" -> col(v)),
          None)
    }
}
