package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType}

/** Custom Catalyst expression: |a ∩ b| for two ASCENDING-SORTED int arrays
  * via a single merge scan — zero allocation per row, fused into
  * whole-stage codegen.
  *
  * This is the hot kernel of exact set-similarity verification: once
  * shingles are dictionary-encoded to dense ints and each document carries
  * its sorted shingle-id set, candidate pairs need only this merge scan —
  * `size(array_intersect(a,b))` builds a hash set per ROW, and a postings
  * co-occurrence join shuffles O(Σ df²) rows, both of which lose badly when
  * the shingle vocabulary is small and dense. Inputs MUST be sorted
  * ascending (e.g. `sort_array(collect_set(...))`); behavior on unsorted
  * input is undefined. Duplicate elements within one input are counted at
  * their matched multiplicity (sets, as produced by collect_set, have none).
  */
case class SortedIntersectSize(left: Expression, right: Expression)
    extends BinaryExpression {

  // static schema gate — see VectorDot
  private lazy val scanLeft: Boolean = left.dataType match {
    case ArrayType(_, cn) => cn; case _ => true }
  private lazy val scanRight: Boolean = right.dataType match {
    case ArrayType(_, cn) => cn; case _ => true }

  override def dataType: DataType = IntegerType

  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(IntegerType, _) => true
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"sorted_intersect_size expects two array<int> arguments, got " +
        s"${left.dataType.catalogString} and ${right.dataType.catalogString}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val xs = a.asInstanceOf[ArrayData]
    val ys = b.asInstanceOf[ArrayData]
    val na = xs.numElements(); val nb = ys.numElements()
    // NULL element poisons (getInt reads the null slot as 0 — silent
    // wrong counts; round-16b review); bitmap scans first (elided on
    // schema-clean sides), then the shared merge scan over int copies
    // (the interpreted path only; codegen scans the arrays in place)
    var i = 0
    if (scanLeft) while (i < na) { if (xs.isNullAt(i)) return null; i += 1 }
    if (scanRight) { var j0 = 0
      while (j0 < nb) { if (ys.isNullAt(j0)) return null; j0 += 1 } }
    SortedIntersectSize.count(xs.toIntArray(), ys.toIntArray())
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      // shared per-class kernel — see VectorDot.doGenCode
      val nullFn = VecCodegen.nullScanUneven(ctx)
      val sizeFn = VecCodegen.intersectSize(ctx)
      s"""
         |if ($nullFn($a, $b, $scanLeft, $scanRight)) { ${ev.isNull} = true; }
         |else { ${ev.value} = $sizeFn($a, $b); }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object SortedIntersectSize {
  /** The merge scan: |xs ∩ ys| for two ascending int arrays, duplicates
    * counted at their matched multiplicity. The interpreted path and the
    * driver verify (Dedup.verifiedCands) both count with it;
    * [[VecCodegen.intersectSize]] is its generated twin. */
  def count(xs: Array[Int], ys: Array[Int]): Int = {
    var i = 0; var j = 0; var n = 0
    while (i < xs.length && j < ys.length) {
      val x = xs(i); val y = ys(j)
      if (x == y) { n += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    n
  }
}
