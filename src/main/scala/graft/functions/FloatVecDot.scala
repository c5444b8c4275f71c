package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expression: dot product of two float-array columns,
  * accumulated in double, in array order.
  *
  * This is the (b)-tier extension path (custom `Expression` with
  * `doGenCode` beats a UDF): the generated code iterates the unsafe
  * array data directly — no per-element boxing, no lambda dispatch, and
  * it stays inside whole-stage codegen, unlike the
  * `aggregate(zip_with(...))` higher-order form which allocates a
  * zipped intermediate array per row. Semantics are EXACTLY the fold's
  * (same left-to-right double summation; null when the lengths differ
  * or any element is null, which is what null-padded `zip_with` +
  * null-propagating arithmetic produce), so [[RewriteVecFolds]] may
  * substitute this kernel for the declarative form unconditionally and
  * results stay bit-equal.
  *
  * Registered as SQL function `vec_dot` by [[GraftFunctions.register]].
  */
case class FloatVecDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"vec_dot requires two array<float> arguments, got " +
          s"${l.simpleString} and ${r.simpleString}")
    }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "vec_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var s = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      s += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      // ev.isNull is a real variable here (nullable = true), so the
      // fold-equivalent null cases can set it
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) {
         |      ${ev.isNull} = true; break;
         |    }
         |    $s += ((double) $a.getFloat($i)) * ((double) $b.getFloat($i));
         |  }
         |  if (!${ev.isNull}) ${ev.value} = $s;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FloatVecDot =
    copy(left = newLeft, right = newRight)
}

/** Function registration helpers. */
object GraftFunctions {
  import org.apache.spark.sql.catalyst.expressions.Literal

  /** vec_dot's public contract, surfaced in `DESCRIBE FUNCTION`.
    * BREAKING CHANGE (r16): earlier rounds computed a min-length
    * prefix dot over ragged inputs; since r16 the function returns
    * NULL on length mismatch or any null element (the fold-equivalent
    * contract [[RewriteVecFolds]] relies on). External callers that
    * leaned on prefix-dot behavior must align lengths first.
    */
  private val info = new ExpressionInfo(
    classOf[FloatVecDot].getName, null, "vec_dot",
    "_FUNC_(a, b) - Double dot product of two array<float> columns, " +
      "accumulated left-to-right. Returns NULL when the array lengths " +
      "differ or any element is NULL. (Changed in r16: previously " +
      "computed a min-length prefix dot over ragged inputs.)",
    "")
  private val shInfo = new ExpressionInfo(
    classOf[SimHashFold].getName, "simhash_fold")
  private val bmcInfo = new ExpressionInfo(
    classOf[org.apache.spark.sql.catalyst.expressions
      .BloomFilterMightContain].getName, "bloom_might_contain")

  /** Catalyst's codegen Bloom-membership predicate, exposed as a user
    * function so a query can apply a DRIVER-BUILT filter (from
    * `df.stat.bloomFilter`, serialized to a binary literal) to a scan —
    * the explicit cross-job form of the runtime filter the optimizer
    * injects within one query (q92). Arguments: (serialized filter
    * BINARY literal, LONG key); the filter must be built over the same
    * long key (`BloomFilter.putLong` / `mightContainLong` pair).
    */
  private def bloomBuilder(exprs: Seq[Expression]): Expression =
    org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
      exprs.head, exprs(1))

  private def simhashBuilder(exprs: Seq[Expression]): Expression =
    SimHashFold(exprs.head, exprs(1) match {
      case Literal(b: Int, IntegerType) => b
      case other => throw new IllegalArgumentException(
        s"simhash_fold(hashes, bits): bits must be an int literal, got $other")
    })

  /** vec_sign_ham's public contract (NaN clause per r16 advice). */
  private val vshInfo = new ExpressionInfo(
    classOf[FloatVecSignHamming].getName, null, "vec_sign_ham",
    "_FUNC_(a, b) - Hamming distance between the sign bits of two " +
      "array<float> columns over the common prefix; positions where " +
      "either element is NULL contribute 0. A NaN element counts as " +
      "non-negative (matches SQL engines whose ordering places NaN " +
      "above all values).",
    "")

  /** Registers the native functions and the fold rewrite on a live
    * session. Idempotent: a second call re-binds the same builders and
    * adds no second rule.
    */
  def register(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("vec_dot"), info,
      (exprs: Seq[Expression]) => FloatVecDot(exprs.head, exprs(1)))
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("vec_sign_ham"), vshInfo,
      (exprs: Seq[Expression]) => FloatVecSignHamming(exprs.head, exprs(1)))
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("simhash_fold"), shInfo, simhashBuilder _)
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("bloom_might_contain"), bmcInfo, bloomBuilder _)
    // the fold→kernel optimizer rewrite ([[RewriteVecFolds]]); the
    // experimental batch is the supported post-hoc injection point.
    // Synchronized: two threads racing the first registration on a
    // shared session must not append the rule twice.
    GraftFunctions.synchronized {
      if (!spark.experimental.extraOptimizations.contains(RewriteVecFolds))
        spark.experimental.extraOptimizations =
          spark.experimental.extraOptimizations :+ RewriteVecFolds
    }
  }
}
