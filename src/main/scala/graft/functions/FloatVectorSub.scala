package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType}

/** Native element-wise difference over two `ARRAY<FLOAT>` columns —
  * `vector_sub(a, b)[i] = a[i] - b[i]` (FLOAT subtract, the exact op
  * `zip_with(a, b, (x, y) -> x - y)` evaluates per element).
  *
  * Why an expression (r12, PERF.md "r12 surface growth"): the residual column of
  * the two-stage PQ index is CONSUMED many times — pqAssign references
  * it through 4 subspaces × K candidate sub-dots, and the serving
  * fan-out references the resulting codes once per query. A zip_with
  * residual is a higher-order function, so the whole consuming
  * projection falls out of whole-stage codegen; without codegen there is
  * no subexpression elimination, and CollapseProject's inlining
  * re-evaluates the interpreted 64-element lambda at EVERY reference —
  * measured 2.05 s vs 0.43 s on q_ann_ivfpq_residual's fan-out stage at
  * sf0.1. This expression keeps the pipeline inside codegen, where the
  * repeated references collapse to one evaluation.
  *
  * Null/shape contract (deliberately the [[FloatVectorDot]] convention,
  * NOT zip_with's): null array → null; any null ELEMENT → null result
  * (zip_with would emit an array with a null element that poisons every
  * downstream dot to null anyway — the end-to-end score is null either
  * way); mismatched lengths → null (zip_with would null-pad, with the
  * same poisoned outcome). Output elements are never null. */
case class FloatVectorSub(left: Expression, right: Expression)
    extends BinaryExpression {
  // input typing enforced by the registry builder (Cast to ARRAY<FLOAT>)

  override def dataType: DataType = ArrayType(FloatType, containsNull = false)

  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    val out = new Array[Float](n)
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      out(i) = x.getFloat(i) - y.getFloat(i)
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val arr = ctx.freshName("arr")
      s"""
         |int $n = $x.numElements();
         |if ($n != $y.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  float[] $arr = new float[$n];
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($x.isNullAt($i) || $y.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $arr[$i] = $x.getFloat($i) - $y.getFloat($i);
         |  }
         |  if (!${ev.isNull}) {
         |    ${ev.value} =
         |      org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($arr);
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): FloatVectorSub =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "vector_sub"
}
