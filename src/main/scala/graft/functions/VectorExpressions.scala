package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Codegen'd dot product over numeric array columns.
  *
  * The embedding operators (ANN top-k, cosine near-dup) previously
  * computed dot products with `aggregate(zip_with(a, b, _*_), ...)`.
  * Spark's higher-order functions have no `doGenCode` — each call is
  * interpreted, allocates an intermediate array per row, and breaks
  * whole-stage codegen for the surrounding stage. At millions of
  * candidate pairs that interpretation dominates the query. This
  * expression is the (b)-tier replacement from the preference ladder:
  * a scalar Catalyst expression with codegen.
  *
  * Semantics match the fold it replaces exactly: a sequential
  * left-to-right `acc += (double) a(i) * (double) b(i)` — the same
  * accumulation order as DuckDB's `list_sum(list_transform(...))`, so
  * oracle hash-comparison stays bit-identical. A null element (or a
  * null array) yields NULL, like the zip_with/aggregate composition —
  * and so do unequal-length vectors (zip_with pads the shorter side
  * with nulls, which propagate through the sum), rather than silently
  * folding the common prefix.
  */
case class VecDot(left: Expression, right: Expression) extends BinaryExpression {

  private def elemType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "vec_dot"

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(e: Expression): Boolean = e.dataType match {
      case ArrayType(FloatType | DoubleType | IntegerType | LongType, _) => true
      case _ => false
    }
    if (ok(left) && ok(right)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires numeric array arguments, got " +
        s"${left.dataType.catalogString} and ${right.dataType.catalogString}")
  }

  private def get(arr: ArrayData, t: DataType, i: Int): Double = t match {
    case FloatType => arr.getFloat(i).toDouble
    case DoubleType => arr.getDouble(i)
    case IntegerType => arr.getInt(i).toDouble
    case LongType => arr.getLong(i).toDouble
    case other => throw new IllegalStateException(s"unsupported element type $other")
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val lt = elemType(left)
    val rt = elemType(right)
    if (x.numElements() != y.numElements()) return null
    val n = x.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      acc += get(x, lt, i) * get(y, rt, i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val getA = CodeGenerator.getValue(a, elemType(left), i)
      val getB = CodeGenerator.getValue(b, elemType(right), i)
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $acc += (double)($getA) * (double)($getB);
         |  }
         |  ${ev.value} = $acc;
         |}
         |""".stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): VecDot =
    copy(left = l, right = r)
}

/** Codegen'd squared-L2 distance over numeric array columns — the
  * k-means / IVF assignment fold (operators/Kmeans.distSq). Same
  * tiering rationale as [[VecDot]]: the `aggregate(zip_with(...))`
  * composition it replaces is interpreted and allocates an
  * intermediate array per (vector, centroid) pair, which dominates an
  * assignment pass of |corpus|·k distance evaluations.
  *
  * Semantics match the fold exactly: sequential left-to-right
  * `acc += ((double) a(i) − (double) b(i))²` — the same accumulation
  * order as the oracle's `list_sum(list_transform(...))`, so k-means
  * assignments stay bit-identical. NULL on a null array, a null
  * element, or unequal lengths (as the zip_with null-padding would
  * produce). */
case class VecDistSq(left: Expression, right: Expression) extends BinaryExpression {

  private def elemType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "vec_dist_sq"

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(e: Expression): Boolean = e.dataType match {
      case ArrayType(FloatType | DoubleType | IntegerType | LongType, _) => true
      case _ => false
    }
    if (ok(left) && ok(right)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires numeric array arguments, got " +
        s"${left.dataType.catalogString} and ${right.dataType.catalogString}")
  }

  private def get(arr: ArrayData, t: DataType, i: Int): Double = t match {
    case FloatType => arr.getFloat(i).toDouble
    case DoubleType => arr.getDouble(i)
    case IntegerType => arr.getInt(i).toDouble
    case LongType => arr.getLong(i).toDouble
    case other => throw new IllegalStateException(s"unsupported element type $other")
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val lt = elemType(left)
    val rt = elemType(right)
    if (x.numElements() != y.numElements()) return null
    val n = x.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val d = get(x, lt, i) - get(y, rt, i)
      acc += d * d
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val d = ctx.freshName("d")
      val getA = CodeGenerator.getValue(a, elemType(left), i)
      val getB = CodeGenerator.getValue(b, elemType(right), i)
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    double $d = (double)($getA) - (double)($getB);
         |    $acc += $d * $d;
         |  }
         |  ${ev.value} = $acc;
         |}
         |""".stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): VecDistSq =
    copy(left = l, right = r)
}

/** Column-API + SQL access to [[VecDot]]/[[VecDistSq]]. Registration is
  * idempotent; also injected by `graft.GraftExtensions`. */
object VectorFunctions {
  import org.apache.spark.sql.functions.{call_function, sqrt}

  def register(spark: org.apache.spark.sql.SparkSession): Unit = GraftFunctions.install(spark)

  def vec_dist_sq(a: Column, b: Column): Column = call_function("vec_dist_sq", a, b)

  def vec_dot(a: Column, b: Column): Column = call_function("vec_dot", a, b)

  /** L2 norm — `sqrt(vec_dot(v, v))`. */
  def vec_norm(v: Column): Column = sqrt(vec_dot(v, v))

  /** Cosine similarity from three codegen'd folds. */
  def vec_cosine(a: Column, b: Column): Column =
    vec_dot(a, b) / (vec_norm(a) * vec_norm(b))
}
