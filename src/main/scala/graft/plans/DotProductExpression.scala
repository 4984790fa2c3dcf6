package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native dot product over embedding arrays (SURVEY §2.12a; builder brief
  * "`functions.aggregate`/`zip_with` for the dot product, or a custom
  * `Expression`" — this is the custom-Expression tier).
  *
  * The HOF formulation (`aggregate(zip_with(a, b, (x,y) -> x*y), 0d,
  * (acc,v) -> acc+v)`) allocates a zipped intermediate array and
  * interprets two lambdas per element; at 100 TB the dot product is the
  * inner loop of every ANN/near-dup query, so it gets a single static JVM
  * call inside whole-stage codegen: one primitive `while` loop, no
  * allocation, no virtual dispatch.
  *
  * Parity contract: accumulates left-to-right in doubles with each
  * element cast to double first — bit-identical to the HOF chain and to
  * the DuckDB oracle's list comprehension, so swapping it into a gated
  * query cannot move a hash. Arrays of unequal length return null (the
  * zip_with+aggregate chain also nulls: zip_with pads with null and
  * `null * y` poisons the sum), and so does a null ELEMENT on either side
  * (ADVICE r4: parquet-read embeddings are `array<float>` with
  * containsNull=true, and `null * y` poisons the HOF sum the same way —
  * silently reading the slot as 0.0 would be a non-null wrong answer).
  */
case class DotProduct(left: Expression, right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(lt, _), ArrayType(rt, _))
          if Seq(lt, rt).forall(t => t == FloatType || t == DoubleType) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName takes two array<float|double> arguments, got ($l, $r)")
    }

  private def elemIsFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val ad = a.asInstanceOf[ArrayData]
    val bd = b.asInstanceOf[ArrayData]
    if (ad.numElements() != bd.numElements()) null
    else DotProduct.compute(ad, bd, elemIsFloat(left), elemIsFloat(right))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val lf = elemIsFloat(left)
      val rf = elemIsFloat(right)
      val tmp = ctx.freshName("graftDot")
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  java.lang.Double $tmp = graft.plans.DotProduct.compute($a, $b, $lf, $rf);
         |  if ($tmp == null) {
         |    ${ev.isNull} = true;
         |  } else {
         |    ${ev.value} = $tmp.doubleValue();
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object DotProduct {

  /** Tight primitive loop, left-to-right double accumulation. Returns null
    * (boxed — one allocation per ROW, not per element) when any slot is
    * null, matching zip_with's null-poisons-the-sum semantics; isNullAt on
    * an UnsafeArrayData is a bit test, so the guard stays in the hot loop. */
  def compute(a: ArrayData, b: ArrayData, aFloat: Boolean,
      bFloat: Boolean): java.lang.Double = {
    val n = a.numElements()
    var s = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
      s += x * y
      i += 1
    }
    java.lang.Double.valueOf(s)
  }

  val builder: Seq[Expression] => Expression = { args =>
    require(args.length == 2, s"graft_dot takes (array, array); got ${args.length}")
    DotProduct(args(0), args(1))
  }
}
