package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Cosine similarity of two float-array embeddings as ONE Catalyst node.
  *
  * Exists for two reasons: (a) a fused primitive loop (dot + both norms in
  * a single pass) beats three separate [[VectorDot]] calls; (b) it is the
  * recognizable MARKER the [[graft.plans.LshPrefilter]] optimizer rule
  * pattern-matches — a threshold predicate `vector_cosine(a,b) > τ` over a
  * non-equi join is the shape the rule rewrites into an LSH-banded
  * candidate join. Semantics match the HOF formulation
  * `dot(a,b)/sqrt(dot(a,a)*dot(b,b))` with left-to-right double
  * accumulation; NULL on length mismatch (zip_with null-pad twin).
  */
case class VectorCosine(left: Expression, right: Expression)
    extends BinaryExpression {

  // static schema gate — see VectorDot
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
      s"vector_cosine expects two array<float> arguments, got " +
        s"${left.dataType.catalogString} and ${right.dataType.catalogString}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val xs = a.asInstanceOf[ArrayData]
    val ys = b.asInstanceOf[ArrayData]
    val n = xs.numElements()
    if (n != ys.numElements()) return null
    // NULL element poisons, like the HOF twin (round-16b review);
    // two-pass with static schema gates — see VectorDot
    var i = 0
    if (scanLeft) while (i < n) { if (xs.isNullAt(i)) return null; i += 1 }
    if (scanRight) { i = 0
      while (i < n) { if (ys.isNullAt(i)) return null; i += 1 } }
    val xf = xs.toFloatArray(); val yf = ys.toFloatArray()
    var dot = 0.0d; var na = 0.0d; var nb = 0.0d
    i = 0
    while (i < n) {
      val x = xf(i).toDouble; val y = yf(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    dot / math.sqrt(na * nb)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      // shared per-class kernel — see VectorDot.doGenCode
      val nullFn = VecCodegen.nullScan(ctx)
      val cosFn = VecCodegen.cosine(ctx)
      s"""
         |if ($nullFn($a, $b, $scanLeft, $scanRight)) { ${ev.isNull} = true; }
         |else { ${ev.value} = $cosFn($a, $b); }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
