package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, TernaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, LongType}

/** `graft_bucket(key, edges, ge)` — sorted-edge bucket lookup for the
  * two-level bin devices (SURVEY §2.10 policy: a codegen'd Catalyst
  * `Expression` with an interpreted twin, the sixth of the family).
  *
  * Given a FOLDABLE sorted ARRAY<BIGINT> of edges e₁ ≤ … ≤ eₘ and a long
  * key k, returns
  *   - ge = false: |{i : eᵢ ≤ k}| — monotone NON-DECREASING in k (the
  *     ascending-sort bin), in [0, m]
  *   - ge = true:  |{i : eᵢ ≥ k}| — monotone NON-INCREASING in k (the
  *     descending-sort bin: larger keys land in SMALLER bins, so the
  *     cross-bin prefix's `ORDER BY bin` still follows the sort order),
  *     in [0, m]
  *
  * Why this exists (r18, the round-17 verdict's Next #2): the two-level
  * rank/prefix devices need `bin = f(key)` for ANY monotone f — boundaries
  * are pure plan, never answer — and every closed-form f has a blind spot
  * (linear collapses on exponential tails, ln-anchored-at-lo collapses on
  * mass near hi, symlog collapses on large offsets). Sampled-QUANTILE
  * edges are shape-agnostic: mass-balanced by construction, worst-bin mass
  * ≈ max(hot-key mass, 1/(m+1) + sketch error) on exponential, reverse-
  * exponential, lognormal, or bursty-time inputs alike (BucketsSpec pins
  * all three fixtures). The lookup must then be a 12-step binary search in
  * registers, not a 4096-way CASE or a per-row array scan — hence this
  * expression. Both eval and codegen delegate to the SAME
  * `java.util.Arrays.binarySearch`, so the two paths are identical by
  * construction even on duplicate edges (the returned index within a
  * duplicate run is deterministic for a fixed array, and any index inside
  * the run yields a bin between the run's endpoints — still monotone).
  *
  * Null key → null bin (the devices enforce non-null keys upstream; the
  * expression itself stays total).
  */
case class BucketI64(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (LongType, ArrayType(LongType, _), BooleanType) =>
        if (!second.foldable || !third.foldable)
          TypeCheckResult.TypeCheckFailure(
            "graft_bucket edges and ge must be foldable literals")
        else TypeCheckResult.TypeCheckSuccess
      case (k, e, g) =>
        TypeCheckResult.TypeCheckFailure(
          s"graft_bucket expects (bigint, array<bigint>, boolean), got ($k, $e, $g)")
    }
  override def dataType: DataType = LongType
  override def nullable: Boolean = first.nullable
  override def prettyName: String = "graft_bucket"

  // plan strings, logs and plan receipts show the edge COUNT, not the
  // up-to-4095-element literal; canonicalization and exchange reuse
  // compare children, not strings, so plans themselves do not change
  private def edgesString: String = second match {
    case Literal(a: ArrayData, _) => s"<${a.numElements()} edges>"
    case e => e.toString
  }
  override def toString: String = s"$prettyName($first, $edgesString, $third)"
  override def sql: String =
    s"$prettyName(${first.sql}, $edgesString, ${third.sql})"

  // edges / direction are foldable: extracted ONCE (not per row — an
  // ArrayData→long[] copy per row would be O(m) in the hot loop)
  @transient private lazy val edgesArr: Array[Long] =
    second.eval().asInstanceOf[ArrayData].toLongArray()
  @transient private lazy val ge: Boolean =
    third.eval().asInstanceOf[Boolean]

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val k = first.eval(input)
    if (k == null) null
    else Buckets.bucket(edgesArr, k.asInstanceOf[Long], ge)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val edgesRef = ctx.addReferenceObj("edges", edgesArr, "long[]")
    val m = edgesArr.length
    nullSafeCodeGen(ctx, ev, (k, _, _) => {
      val r = ctx.freshName("r")
      val branch =
        if (ge)
          // |{e ≥ k}| = m − |{e < k}|; found → m − r, miss → m − insertion
          s"${ev.value} = $r >= 0 ? (long)($m - $r) : (long)($m + $r + 1);"
        else
          // |{e ≤ k}|; found → r + 1, miss → insertion point = −r − 1
          s"${ev.value} = $r >= 0 ? (long)($r + 1) : (long)(-$r - 1);"
      s"""
         |final int $r = java.util.Arrays.binarySearch($edgesRef, $k);
         |$branch
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): BucketI64 =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object Buckets {
  /** Interpreted twin of the codegen above — same binarySearch, same
    * arithmetic (PrefixJoinSpec-style parity is pinned in BucketsSpec).
    */
  def bucket(edges: Array[Long], k: Long, ge: Boolean): Long = {
    val r = java.util.Arrays.binarySearch(edges, k)
    if (ge) { if (r >= 0) (edges.length - r).toLong else (edges.length + r + 1).toLong }
    else { if (r >= 0) (r + 1).toLong else (-r - 1).toLong }
  }
}
