package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Truncated adjusted EWM of one row's window frame: `frame` is the row's
  * `collect_list(struct(x))` over `ROWS BETWEEN terms-1 PRECEDING AND CURRENT
  * ROW` (the struct keeps NULL values in their slots, which a bare
  * `collect_list(x)` would drop), so term k — the k-th lag — is element
  * `n-1-k`. The result is `Σ_k x_k·w_k / Σ_k w_k` over `k < weights.length`,
  * where a NULL value or a lag before the frame's start contributes `0.0`
  * to both sums.
  *
  * Bit-for-bit the sum the per-term `lag` ladder computes: each sum is
  * seeded with term 0 (not `0.0`, so an all-`-0.0` window stays `-0.0`),
  * then adds every term in ascending k — missing ones as `0.0` — with the
  * same `x * w` products. A window without any value (`Σ w_k == 0`) is
  * NULL, the quotient's non-ANSI answer (pandas: no observation, no mean).
  *
  * Codegen follows [[VectorDot]]: one primitive loop fused into the stage.
  * The weights are a plan-time constant passed by reference, so every EWM
  * shares one generated class whatever its decay or term count.
  */
case class EwmFold(child: Expression, weights: Seq[Double]) extends UnaryExpression {

  @transient private lazy val w: Array[Double] = weights.toArray

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StructType(Array(f)), _) if f.dataType == DoubleType =>
      if (weights.nonEmpty) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure("ewm_fold needs at least one weight")
    case other => TypeCheckResult.TypeCheckFailure(
      s"ewm_fold expects ARRAY<STRUCT<DOUBLE>>, got ${other.sql}")
  }

  override protected def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    val n = a.numElements()
    var num = 0.0
    var den = 0.0
    var k = 0
    while (k < w.length) {
      val i = n - 1 - k
      val e = if (i >= 0 && !a.isNullAt(i)) a.getStruct(i, 1) else null
      val present = e != null && !e.isNullAt(0)
      val tn = if (present) e.getDouble(0) * w(k) else 0.0
      val td = if (present) w(k) else 0.0
      if (k == 0) { num = tn; den = td } else { num += tn; den += td }
      k += 1
    }
    if (den == 0.0) null else num / den
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ws = ctx.addReferenceObj("ewmWeights", w, "double[]")
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n")
      val k = ctx.freshName("k")
      val i = ctx.freshName("i")
      val e = ctx.freshName("e")
      val present = ctx.freshName("present")
      val tn = ctx.freshName("tn")
      val td = ctx.freshName("td")
      val num = ctx.freshName("num")
      val den = ctx.freshName("den")
      s"""
         |int $n = $a.numElements();
         |double $num = 0.0;
         |double $den = 0.0;
         |for (int $k = 0; $k < $ws.length; $k++) {
         |  int $i = $n - 1 - $k;
         |  InternalRow $e = ($i >= 0 && !$a.isNullAt($i)) ? $a.getStruct($i, 1) : null;
         |  boolean $present = $e != null && !$e.isNullAt(0);
         |  double $tn = $present ? $e.getDouble(0) * $ws[$k] : 0.0;
         |  double $td = $present ? $ws[$k] : 0.0;
         |  if ($k == 0) { $num = $tn; $den = $td; } else { $num += $tn; $den += $td; }
         |}
         |if ($den == 0.0) { ${ev.isNull} = true; } else { ${ev.value} = $num / $den; }
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "ewm_fold"
}
