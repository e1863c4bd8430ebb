package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}
import org.apache.spark.sql.SparkSessionExtensions

/** Native codegen'd dot product over `array<float>` / `array<double>`
  * — the one custom Catalyst Expression this engine needs (SURVEY.md
  * §7.3): cosine scoring is the hot inner loop of every kNN/dedup
  * operator, and the higher-order-function formulation
  * (`aggregate(zip_with(...))`) evaluates un-codegen'd with per-element
  * boxing.
  *
  * Semantics are BIT-IDENTICAL to the HOF version the oracles were
  * validated against: each element is widened to double, multiplied,
  * and accumulated LEFT-TO-RIGHT in a double — the same IEEE operation
  * sequence DuckDB's `list_dot_product` over `DOUBLE[]` performs, so
  * hash-exact oracle compares keep passing. Degenerate inputs follow
  * the HOF form too: mismatched array lengths yield NULL (zip_with
  * pads the shorter side with null, null * x is null, and the
  * aggregate sum of a null is null), as does any null element.
  *
  * Registered as SQL function `graft_dot` via [[GraftExtensions]]
  * (`spark.sql.extensions`) — the public extension-injection API.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_dot expects array<float|double> inputs, got " +
        s"${left.dataType.catalogString} / ${right.dataType.catalogString}")
  }

  // NULL is produced for mismatched lengths / null elements even when
  // both input columns are non-nullable, so ev.isNull must be a real
  // variable in codegen.
  override def nullable: Boolean = true

  private def elemIsFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  private def elemNullable(e: Expression): Boolean = e.dataType match {
    case ArrayType(_, containsNull) => containsNull
    case _ => false
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    val lf = elemIsFloat(left)
    val rf = elemIsFloat(right)
    val checkNulls = elemNullable(left) || elemNullable(right)
    var s = 0.0
    var i = 0
    while (i < n) {
      if (checkNulls && (x.isNullAt(i) || y.isNullAt(i))) return null
      val xi = if (lf) x.getFloat(i).toDouble else x.getDouble(i)
      val yi = if (rf) y.getFloat(i).toDouble else y.getDouble(i)
      s += xi * yi
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val getA = if (elemIsFloat(left)) s"(double) $a.getFloat($i)"
                 else s"$a.getDouble($i)"
      val getB = if (elemIsFloat(right)) s"(double) $b.getFloat($i)"
                 else s"$b.getDouble($i)"
      // containsNull=false arrays (the engine's embedding schema) skip
      // the per-element null branch entirely — the hot loop stays two
      // loads + fma-able multiply-add.
      val nullCheck =
        if (elemNullable(left) || elemNullable(right))
          s"""if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }"""
        else ""
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $nullCheck
         |    $s += $getA * $getB;
         |  }
         |  if (!${ev.isNull}) ${ev.value} = $s;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "graft_dot"
}

/** The expression's arithmetic on local arrays, for driver- and
  * executor-local scoring (HNSW serving, the in-process index build):
  * the same widen-multiply-accumulate sequence, so a local score equals
  * the engine's `round(graft_dot(a, b) / (|a|·|b|), 6)` bit for bit. */
object DotProduct {

  /** Σ a(i)·b(i) over the common prefix, widened to double, summed
    * left to right. (The expression answers NULL on a length mismatch;
    * callers that can meet one check the lengths themselves.) */
  def dot(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { s += a(i).toDouble * b(i).toDouble; i += 1 }
    s
  }

  /** Spark's `round(x, scale)` on a double: HALF_UP on the shortest
    * decimal form (`BigDecimal.valueOf`); NaN and infinities pass.
    *
    * Fast path, bit-equal to the `BigDecimal` form (RoundHalfUpSpec
    * compares raw bits): `y = x·10^scale` is within ~1.5 ulp(y) of the
    * shortest decimal's scaled value, so when `y`'s fraction sits
    * clearly away from .5 both round to the same integer `m`, and
    * `m / 10^scale` is one correctly-rounded division, exactly what
    * `BigDecimal(m, scale).doubleValue()` returns. Near a tie, past
    * 2⁵² and for scales without an exact power of ten it takes the
    * `BigDecimal` path. A zero result is `+0.0`, as there. */
  def roundHalfUp(x: Double, scale: Int): Double =
    if (x.isNaN || x.isInfinite) x
    else if (scale < 0 || scale >= Pow10.length) slowRound(x, scale)
    else {
      val t = math.abs(x * Pow10(scale))
      val fl = math.floor(t)
      val frac = t - fl // exact below 2⁵²
      if (!(t < 4503599627370496.0) || math.abs(frac - 0.5) <= t * TieMargin)
        slowRound(x, scale)
      else {
        val m = if (frac > 0.5) fl + 1 else fl
        if (m == 0) 0.0
        else math.copySign(m / Pow10(scale), x)
      }
    }

  /** 2⁻⁴⁴: a relative margin 256× wider than the ~2⁻⁵² between `y`
    * and the shortest decimal's scaled value. */
  private val TieMargin = math.scalb(1.0, -44)

  /** 10^0 … 10^22, every one exact as a double. */
  private val Pow10: Array[Double] = Array.iterate(1.0, 23)(_ * 10)

  private def slowRound(x: Double, scale: Int): Double =
    java.math.BigDecimal.valueOf(x)
      .setScale(scale, java.math.RoundingMode.HALF_UP).doubleValue()

  /** The engine's reported score: `round(dot / (na·nb), 6)` —
    * `cosinePrenormed` under the HALF_UP 6-decimal round. */
  def score(a: Array[Float], na: Double, b: Array[Float], nb: Double): Double =
    roundHalfUp(dot(a, b) / (na * nb), 6)
}

/** `spark.sql.extensions` entry point registering the engine's native
  * functions and optimizer rules. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (children: Seq[Expression]) => DotProduct(children.head, children(1))))
    ext.injectFunction((
      new FunctionIdentifier("graft_hash60"),
      new ExpressionInfo(classOf[Hash60].getName, "graft_hash60"),
      (children: Seq[Expression]) => Hash60(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("graft_imatvec"),
      new ExpressionInfo(classOf[MatVecMicro].getName, "graft_imatvec"),
      (children: Seq[Expression]) => MatVecMicro(children.head, children(1))))
    ext.injectOptimizerRule(_ => graft.plans.RewriteDotProduct)
  }
}
