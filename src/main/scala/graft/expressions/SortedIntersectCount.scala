package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, RowOrdering}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, TypeUtils}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native codegen'd SET-intersection COUNT of two SORTED arrays — a merge
  * walk, the q106 verify kernel.
  *
  * `size(array_intersect(a, b))` does three things this call site never
  * needs: it builds a hash set of one side per row, ALLOCATES the
  * intersection array, then throws it away after `size`. For the
  * prefix-filter verify (ops/Dedup.jaccardPairsPrefix) both sides arrive
  * `sort_array(collect_set(...))` — already sorted, already distinct — so
  * the count is a single allocation-free two-pointer walk: O(|a|+|b|)
  * comparisons, no hashing, no scratch array, inside whole-stage codegen.
  * Measured at sf0.1 this halves the q106 verify stage (SCALE.md q106
  * row; numbers in the Dedup scaladoc).
  *
  * Contract (property-tested equal to `size(array_intersect)` in
  * PropertySpec): inputs must be sorted ascending in the element type's
  * standard ordering — `sort_array`'s order. Duplicate elements are
  * counted ONCE (set semantics, equal runs skipped), so sorted-distinct is
  * a sufficient but not necessary precondition. NULL array → NULL; NULL
  * ELEMENTS are ignored (`array_intersect` keeps a shared null, but no
  * producer here emits null elements — `collect_set` drops them — and
  * ignoring is the conservative count for a Jaccard numerator). UNSORTED
  * input returns an undefined (under-)count — the same class of garbage a
  * wrong join key produces, and why the function name carries "sorted".
  * Any orderable element type; registered as `graft_sorted_inter_count`
  * via [[graft.GraftExtensions]].
  */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {

  private lazy val elementType: DataType =
    left.dataType.asInstanceOf[ArrayType].elementType

  private lazy val ordering: Ordering[Any] =
    TypeUtils.getInterpretedOrdering(elementType)

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(l, _), ArrayType(r, _))
          if l == r && RowOrdering.isOrderable(l) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"graft_sorted_inter_count expects two arrays of one orderable " +
          s"element type, got (${left.dataType.simpleString}, " +
          s"${right.dataType.simpleString})")
    }

  override def dataType: DataType = LongType

  override def prettyName: String = "graft_sorted_inter_count"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements(); val m = y.numElements()
    var i = 0; var j = 0; var c = 0L
    while (i < n && j < m) {
      if (x.isNullAt(i)) i += 1
      else if (y.isNullAt(j)) j += 1
      else {
        val xv = x.get(i, elementType)
        val cmp = ordering.compare(xv, y.get(j, elementType))
        if (cmp < 0) i += 1
        else if (cmp > 0) j += 1
        else {
          c += 1
          i += 1; j += 1
          while (i < n && !x.isNullAt(i) &&
                 ordering.compare(x.get(i, elementType), xv) == 0) i += 1
          while (j < m && !y.isNullAt(j) &&
                 ordering.compare(y.get(j, elementType), xv) == 0) j += 1
        }
      }
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val jt = CodeGenerator.javaType(elementType)
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val n = ctx.freshName("n"); val m = ctx.freshName("m")
      val xv = ctx.freshName("xv"); val yv = ctx.freshName("yv")
      val cmp = ctx.freshName("cmp")
      s"""
         |final int $n = $a.numElements();
         |final int $m = $b.numElements();
         |int $i = 0; int $j = 0;
         |${ev.value} = 0L;
         |while ($i < $n && $j < $m) {
         |  if ($a.isNullAt($i)) { $i++; continue; }
         |  if ($b.isNullAt($j)) { $j++; continue; }
         |  final $jt $xv = ${CodeGenerator.getValue(a, elementType, i)};
         |  final $jt $yv = ${CodeGenerator.getValue(b, elementType, j)};
         |  final int $cmp = ${ctx.genComp(elementType, xv, yv)};
         |  if ($cmp < 0) { $i++; }
         |  else if ($cmp > 0) { $j++; }
         |  else {
         |    ${ev.value}++;
         |    $i++; $j++;
         |    while ($i < $n && !$a.isNullAt($i) &&
         |           ${ctx.genComp(elementType,
                        CodeGenerator.getValue(a, elementType, i), xv)} == 0) {
         |      $i++;
         |    }
         |    while ($j < $m && !$b.isNullAt($j) &&
         |           ${ctx.genComp(elementType,
                        CodeGenerator.getValue(b, elementType, j), xv)} == 0) {
         |      $j++;
         |    }
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersectCount =
    copy(left = newLeft, right = newRight)
}
