package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.BinaryExpression
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expression: Hamming distance between the SIGN bits
  * of two float-array columns (the number of dimensions whose signs
  * disagree) — the scoring kernel of binary-embedding retrieval
  * (e151/e152), where vectors are stored at 1 bit/dim and ranked by
  * sign disagreement.
  *
  * Same (b)-tier extension rationale as [[FloatVecDot]]: the
  * `aggregate(zip_with(...))` higher-order form allocates a zipped
  * intermediate array per row and dispatches a lambda per element;
  * this generated loop reads the unsafe array data directly and stays
  * inside whole-stage codegen. The count is exactly the fold's,
  * INCLUDING its null contract: the fold's `when(signs differ,
  * 1).otherwise(0)` sends a null comparison to `otherwise(0)`, and
  * zip_with pads the shorter array with nulls — so positions where
  * either element is null (or only one side exists) contribute 0,
  * which here is the min-length loop skipping null slots.
  *
  * NaN contract (r16 advice): a NaN element counts as NON-NEGATIVE.
  * Java's `NaN >= 0f` is false, but the DuckDB oracle's `x >= 0`
  * ordering places NaN above all values (true), so the sign bit is
  * computed as `isNaN(v) || v >= 0` to keep the two engines
  * bit-agreed even on NaN-bearing embeddings.
  *
  * Registered as SQL function `vec_sign_ham` by
  * [[GraftFunctions.register]].
  */
case class FloatVecSignHamming(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"vec_sign_ham requires two array<float> arguments, got " +
          s"${l.simpleString} and ${r.simpleString}")
    }
  override def dataType: DataType = LongType
  override def prettyName: String = "vec_sign_ham"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var h = 0L
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i) && {
            val xv = x.getFloat(i); val yv = y.getFloat(i)
            (java.lang.Float.isNaN(xv) || xv >= 0f) !=
              (java.lang.Float.isNaN(yv) || yv >= 0f)
          }) h += 1L
      i += 1
    }
    h
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val h = ctx.freshName("h")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $h = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i) && !$b.isNullAt($i)) {
         |    float ${h}x = $a.getFloat($i);
         |    float ${h}y = $b.getFloat($i);
         |    if ((java.lang.Float.isNaN(${h}x) || ${h}x >= 0f) !=
         |        (java.lang.Float.isNaN(${h}y) || ${h}y >= 0f)) $h++;
         |  }
         |}
         |${ev.value} = $h;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FloatVecSignHamming =
    copy(left = newLeft, right = newRight)
}
