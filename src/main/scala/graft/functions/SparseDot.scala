package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/**
 * `sparse_dot(a, b)`: dot product of two SPARSE vectors, each an
 * `array<struct<coord: string, nv: double>>` SORTED ascending by coord
 * (binary UTF8 order — exactly what `sort_array(collect_list(struct(
 * coord, nv)))` produces). Two-pointer merge: O(|a| + |b|) per pair.
 *
 * Why a custom Catalyst expression (the FloatDot precedent — SURVEY.md
 * §4.3's "only if hot" clause): the map-typed spelling
 * `aggregate(map_entries(m0), 0d, (acc, e) -> acc + e.value *
 * element_at(m1, e.key))` evaluates INTERPRETED with `element_at` doing
 * a LINEAR key scan per lookup (Spark's GetMapValueUtil) — O(d²)
 * comparisons per pair, measured 1512 s for the sfx1 IVF contract
 * (7.7× WORSE than the shuffle-heavy plan it replaced). This expression
 * generates a primitive merge loop inside whole-stage codegen with a
 * matching interpreted path.
 *
 * Determinism: products accumulate in ascending coord order — the SAME
 * order regardless of argument order — so `sparse_dot(a, b)` is
 * bit-identical to `sparse_dot(b, a)` and a pair re-derived in another
 * candidate group deduplicates exactly ([[graft.ext.SparseAnn
 * .exactSimsLocal]]'s distinct relies on this).
 */
case class SparseDot(left: Expression, right: Expression) extends BinaryExpression {

  private def isEntries(t: DataType): Boolean = t match {
    case ArrayType(StructType(Array(k, v)), _) =>
      k.dataType == StringType && v.dataType == DoubleType
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (isEntries(left.dataType) && isEntries(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else
      TypeCheckResult.TypeCheckFailure(
        s"sparse_dot requires two array<struct<string, double>> arguments, " +
          s"got (${left.dataType}, ${right.dataType})")

  override def dataType: DataType = DoubleType

  override def prettyName: String = "sparse_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val (n0, n1) = (x.numElements(), y.numElements())
    var (i, j) = (0, 0)
    var s = 0.0
    while (i < n0 && j < n1) {
      val e0 = x.getStruct(i, 2)
      val e1 = y.getStruct(j, 2)
      // binaryCompare, not compareTo: Spark 4's compareTo reads an
      // environment variable on every call
      val c = e0.getUTF8String(0).binaryCompare(e1.getUTF8String(0))
      if (c == 0) { s += e0.getDouble(1) * e1.getDouble(1); i += 1; j += 1 }
      else if (c < 0) i += 1
      else j += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n0 = ctx.freshName("n0")
      val n1 = ctx.freshName("n1")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val s = ctx.freshName("s")
      val e0 = ctx.freshName("e0")
      val e1 = ctx.freshName("e1")
      val c = ctx.freshName("c")
      val row = "org.apache.spark.sql.catalyst.InternalRow"
      s"""
         |int $n0 = $a.numElements();
         |int $n1 = $b.numElements();
         |int $i = 0, $j = 0;
         |double $s = 0.0;
         |while ($i < $n0 && $j < $n1) {
         |  $row $e0 = $a.getStruct($i, 2);
         |  $row $e1 = $b.getStruct($j, 2);
         |  int $c = $e0.getUTF8String(0).binaryCompare($e1.getUTF8String(0));
         |  if ($c == 0) { $s += $e0.getDouble(1) * $e1.getDouble(1); $i++; $j++; }
         |  else if ($c < 0) { $i++; } else { $j++; }
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
