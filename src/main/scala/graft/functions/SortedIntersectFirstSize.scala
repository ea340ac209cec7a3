package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** Companion kernel to [[SortedIntersectSize]]: ONE merge scan over two
  * ascending-sorted int arrays returning BOTH the smallest common element
  * and |a ∩ b|, packed into a long as `(first << 32) | size` (first = −1
  * when the intersection is empty — the sign survives `shiftright`).
  * CONTRACT: elements must be NONNEGATIVE dictionary ids — a genuine −1
  * element would alias the empty-intersection sentinel; callers that
  * cannot guarantee that should key on the size word (low 32 bits)
  * instead of the first word (round-16b review). A NULL element returns
  * NULL (getInt would otherwise read the null slot as 0).
  *
  * This exists for the fused PPJoin verify step: a prefix-filter candidate
  * join emits each pair once per SHARED PREFIX TERM, and the classic dedup
  * is "keep the row whose join term is the first common element" — the
  * smallest common element of the full sets is always inside both prefixes
  * whenever any shared element is (it sorts before it). Evaluating first
  * and size in one scan halves the per-candidate work vs calling two
  * kernels, and the whole check stays inside whole-stage codegen, so the
  * candidate join needs no post-join shuffle (no distinct, no re-join).
  * Unpack with `shiftright(stats, 32)` and `stats & 4294967295`.
  */
case class SortedIntersectFirstSize(left: Expression, right: Expression)
    extends BinaryExpression {

  // static schema gate — see VectorDot
  private lazy val scanLeft: Boolean = left.dataType match {
    case ArrayType(_, cn) => cn; case _ => true }
  private lazy val scanRight: Boolean = right.dataType match {
    case ArrayType(_, cn) => cn; case _ => true }

  override def nullable: Boolean = true


  override def dataType: DataType = LongType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(IntegerType, _) => true
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"sorted_intersect_first_size expects two array<int> arguments, got " +
        s"${left.dataType.catalogString} and ${right.dataType.catalogString}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val xs = a.asInstanceOf[ArrayData]
    val ys = b.asInstanceOf[ArrayData]
    val na = xs.numElements(); val nb = ys.numElements()
    // NULL element -> NULL result (getInt would read 0 silently);
    // gated bitmap scans first, merge loop stays the original kernel
    var i = 0
    if (scanLeft) while (i < na) { if (xs.isNullAt(i)) return null; i += 1 }
    if (scanRight) { var j0 = 0
      while (j0 < nb) { if (ys.isNullAt(j0)) return null; j0 += 1 } }
    i = 0; var j = 0; var n = 0; var first = -1
    while (i < na && j < nb) {
      val x = xs.getInt(i); val y = ys.getInt(j)
      if (x == y) { if (n == 0) first = x; n += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    (first.toLong << 32) | (n.toLong & 0xffffffffL)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      // shared per-class kernel — see VectorDot.doGenCode
      val nullFn = VecCodegen.nullScanUneven(ctx)
      val fsFn = VecCodegen.intersectFirstSize(ctx)
      s"""
         |if ($nullFn($a, $b, $scanLeft, $scanRight)) { ${ev.isNull} = true; }
         |else { ${ev.value} = $fsFn($a, $b); }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
