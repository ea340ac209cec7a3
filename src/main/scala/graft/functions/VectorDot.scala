package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, DoubleType, FloatType}

/** Custom Catalyst expression: dot product of two float-array embeddings
  * (SURVEY §4.3, the one justified custom Expression).
  *
  * Semantics mirror the HOF twin
  * `aggregate(zip_with(a,b,(x,y)=>x.cast(double)*y.cast(double)),0d,+)`
  * exactly: elements widen to DOUBLE, multiply, and accumulate left-to-right
  * — so plans using either form rank identically. That includes mismatched
  * lengths: zip_with null-pads the shorter array and the null poisons the
  * aggregate, so this expression returns NULL when lengths differ.
  * `doGenCode` emits a primitive loop (no per-row ArrayData boxing like the
  * HOF chain), which is the point at 100 TB: one fused loop inside
  * whole-stage codegen instead of three nested higher-order evals.
  */
case class VectorDot(left: Expression, right: Expression)
    extends BinaryExpression {

  // static schema facts: a side declared containsNull=false can never
  // hold a null element, so its null tracking is elided ENTIRELY — the
  // null-poisoning semantics cost nothing on schema-clean columns
  private lazy val scanLeft: Boolean = left.dataType match {
    case ArrayType(_, cn) => cn; case _ => true }
  private lazy val scanRight: Boolean = right.dataType match {
    case ArrayType(_, cn) => cn; case _ => true }

  override def dataType: DataType = DoubleType

  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"vector_dot expects two array<float> arguments, got " +
        s"${left.dataType.catalogString} and ${right.dataType.catalogString}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val xs = a.asInstanceOf[ArrayData]
    val ys = b.asInstanceOf[ArrayData]
    val n = xs.numElements()
    if (n != ys.numElements()) return null // HOF twin: null-pad poisons sum
    // HOF twin again: a NULL ELEMENT poisons the aggregate — reading the
    // null slot as 0.0 would silently diverge from the zip_with form the
    // doc promises exact parity with (round-16b review). Two-pass shape:
    // a bitmap scan (elided per side when the schema says
    // containsNull=false), then the original bulk-copy primitive loop.
    var i = 0
    if (scanLeft) while (i < n) { if (xs.isNullAt(i)) return null; i += 1 }
    if (scanRight) { i = 0
      while (i < n) { if (ys.isNullAt(i)) return null; i += 1 } }
    val xf = xs.toFloatArray(); val yf = ys.toFloatArray()
    var acc = 0.0d
    i = 0
    while (i < n) {
      acc += xf(i).toDouble * yf(i).toDouble
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      // ONE shared per-class kernel (VecCodegen): the call site stays a
      // 2-line branch however many codebook literals surround it, and the
      // hot loop is the original bulk-copy primitive scan. The precheck
      // carries the length-mismatch + null-poisoning semantics; the static
      // schema flags land as constants JIT folds away.
      val nullFn = VecCodegen.nullScan(ctx)
      val dotFn = VecCodegen.dot(ctx)
      s"""
         |if ($nullFn($a, $b, $scanLeft, $scanRight)) { ${ev.isNull} = true; }
         |else { ${ev.value} = $dotFn($a, $b); }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
