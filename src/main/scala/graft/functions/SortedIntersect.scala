package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Evaluation core shared by interpreted eval and generated code. */
object SortedIntersectEval extends Serializable {
  /** |a ∩ b| for two SORTED, DISTINCT string arrays — one linear merge,
    * no hash table, no intermediate array. Null elements (sorted first
    * by array_sort) are skipped: set semantics over values, matching
    * `size(array_intersect(a, b))` on null-free input. */
  def size(a: ArrayData, b: ArrayData): Int = {
    val na = a.numElements(); val nb = b.numElements()
    var i = 0; var j = 0; var n = 0
    while (i < na && a.isNullAt(i)) i += 1
    while (j < nb && b.isNullAt(j)) j += 1
    while (i < na && j < nb) {
      val c = a.getUTF8String(i).compareTo(b.getUTF8String(j))
      if (c == 0) { n += 1; i += 1; j += 1 }
      else if (c < 0) i += 1
      else j += 1
    }
    n
  }
}

/** `sorted_intersect_size(a, b)` — codegen'd |a ∩ b| for sorted
  * distinct string arrays.
  *
  * The LSH verify stage computes exact jaccard for every candidate
  * pair; `size(array_intersect(a, b))` builds a hash set and an output
  * array per pair. The token arrays are already `array_sort(
  * array_distinct(...))`-normalized upstream (the same normalization
  * the sort-merge needs), so a linear merge gives the same count with
  * zero allocation. Callers must guarantee sortedness — this is an
  * internal engine primitive, not a general replacement.
  */
case class SortedIntersectSize(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = left.nullable || right.nullable
  override def prettyName: String = "sorted_intersect_size"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), ArrayType(StringType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<string>, array<string>), got " +
          s"(${l.catalogString}, ${r.catalogString})")
    }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    SortedIntersectEval.size(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.SortedIntersectEval.size($a, $b);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): SortedIntersectSize =
    copy(left = l, right = r)
}

object SortedIntersectFunctions {
  import org.apache.spark.sql.functions.call_function

  def register(spark: org.apache.spark.sql.SparkSession): Unit = GraftFunctions.install(spark)

  def sorted_intersect_size(a: Column, b: Column): Column =
    call_function("sorted_intersect_size", a, b)
}
