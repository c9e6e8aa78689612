package graft.expressions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** |A ∩ B| for two SORTED, DUPLICATE-FREE long arrays as one fused merge
  * walk with whole-stage codegen — zero per-row allocation.
  *
  * Replaces `size(array_intersect(a, b))` on the x07 containment verify
  * path (round-19 optimization): array_intersect builds a hash set over one
  * side and MATERIALIZES the intersection array per candidate pair, only
  * for `size` to throw it away. The merge walk is O(|A|+|B|) with no hash
  * table and no output array. Equivalent to size(array_intersect) exactly
  * when both inputs are ascending-sorted and duplicate-free (the per-doc
  * distinct shingle-set contract; array_intersect deduplicates, a set
  * already is). The interpreted path checks that precondition and fails
  * naming the function; the codegen path (the one x07 runs) trusts the
  * caller and pays no check.
  *
  * Null handling: null array → null (BinaryExpression default). Element
  * nulls are not expected (collect_list never emits them).
  */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(dt: DataType): Boolean = dt match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"sorted_intersect_count expects array<bigint> inputs, got " +
          s"${left.dataType} / ${right.dataType}")
  }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val na = a.numElements()
    val nb = b.numElements()
    for ((side, arr, len) <- Seq(("left", a, na), ("right", b, nb)); k <- 1 until len)
      if (arr.getLong(k - 1) >= arr.getLong(k))
        throw new IllegalArgumentException(s"sorted_intersect_count: the $side input " +
          s"is not strictly ascending at index $k (${arr.getLong(k - 1)} then " +
          s"${arr.getLong(k)}) — it needs sorted, duplicate-free arrays")
    var i = 0
    var j = 0
    var n = 0
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { n += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    n
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val n = ctx.freshName("n")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      s"""
         |int $na = $a.numElements();
         |int $nb = $b.numElements();
         |int $i = 0, $j = 0, $n = 0;
         |while ($i < $na && $j < $nb) {
         |  long $x = $a.getLong($i);
         |  long $y = $b.getLong($j);
         |  if ($x == $y) { $n++; $i++; $j++; }
         |  else if ($x < $y) { $i++; }
         |  else { $j++; }
         |}
         |${ev.value} = $n;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "sorted_intersect_count"
}
