package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, QuaternaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** Early-abort twin of [[SortedIntersectFirstSize]] for thresholded
  * set-similarity verifies: `sorted_intersect_prune(a, b, sid, alpha)`
  * merge-scans two ascending-sorted int arrays but gives up — returning
  * the sentinel packing (first = −1, size = 0) — as soon as the row
  * provably cannot survive the caller's downstream filters:
  *
  *  - the first common element turns out to differ from `sid` (the PPJoin
  *    "keep only the row joined on the first common prefix term" dedup;
  *    pass sid = −1 to disable this check for non-prefix-join callers);
  *  - the remaining elements can no longer reach `alpha` matches
  *    (`n_matched + min(remaining_a, remaining_b) < alpha` — the classic
  *    suffix-filter bound; every candidate that fails the caller's
  *    `i ≥ alpha` similarity threshold aborts its scan a prefix early
  *    instead of walking both arrays to the end).
  *
  * On survival it returns exactly [[SortedIntersectFirstSize]]'s packing,
  * `(first << 32) | size`, so callers keep their existing unpack/filter
  * chain and the kept-row set is IDENTICAL by construction: the sentinel
  * unpacks to first = −1 (fails any `sid = first` dedup) and size = 0
  * (fails any `i ≥ alpha ≥ 1` threshold, and casts to int without ANSI
  * overflow), while a surviving row always has size ≥ alpha ≥ 1.
  * The win is per-candidate CPU only — on low-overlap candidate streams
  * (the common case for near-dup verifies) the bound collapses after
  * ~(m − alpha) steps instead of m_a + m_b.
  *
  * Same element contract as the siblings: nonnegative dictionary ids,
  * ascending-sorted, NULL element ⇒ NULL result.
  */
case class SortedIntersectPrune(first: Expression, second: Expression,
    third: Expression, fourth: Expression) extends QuaternaryExpression {

  // static schema gate — see VectorDot
  private lazy val scanLeft: Boolean = first.dataType match {
    case ArrayType(_, cn) => cn; case _ => true }
  private lazy val scanRight: Boolean = second.dataType match {
    case ArrayType(_, cn) => cn; case _ => true }

  override def nullable: Boolean = true

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val arraysOk = Seq(first, second).forall(_.dataType match {
      case ArrayType(IntegerType, _) => true
      case _ => false
    })
    val intsOk = Seq(third, fourth).forall(_.dataType == IntegerType)
    if (arraysOk && intsOk)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      "sorted_intersect_prune expects (array<int>, array<int>, int, int), got " +
        children.map(_.dataType.catalogString).mkString(", "))
  }

  override def nullSafeEval(a: Any, b: Any, c: Any, d: Any): Any = {
    val xs = a.asInstanceOf[ArrayData]
    val ys = b.asInstanceOf[ArrayData]
    val sid = c.asInstanceOf[Int]
    val alpha = d.asInstanceOf[Int]
    val na = xs.numElements(); val nb = ys.numElements()
    // NULL element -> NULL result (getInt would read the slot as 0)
    var i = 0
    if (scanLeft) while (i < na) { if (xs.isNullAt(i)) return null; i += 1 }
    if (scanRight) { var j0 = 0
      while (j0 < nb) { if (ys.isNullAt(j0)) return null; j0 += 1 } }
    val drop = (-1L) << 32 // (first = -1, size = 0)
    i = 0; var j = 0; var n = 0; var fst = -1
    while (i < na && j < nb) {
      val rem = math.min(na - i, nb - j)
      if (n + rem < alpha) return drop
      val x = xs.getInt(i); val y = ys.getInt(j)
      if (x == y) {
        if (n == 0) { fst = x; if (sid >= 0 && x != sid) return drop }
        n += 1; i += 1; j += 1
      }
      else if (x < y) i += 1
      else j += 1
    }
    if (n < alpha) return drop
    (fst.toLong << 32) | (n.toLong & 0xffffffffL)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, c, d) => {
      // shared per-class kernel — see VectorDot.doGenCode
      val nullFn = VecCodegen.nullScanUneven(ctx)
      val pruneFn = VecCodegen.intersectPrune(ctx)
      s"""
         |if ($nullFn($a, $b, $scanLeft, $scanRight)) { ${ev.isNull} = true; }
         |else { ${ev.value} = $pruneFn($a, $b, $c, $d); }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression,
      newFourth: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird,
      fourth = newFourth)
}
