package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Evaluation core for [[LshBuckets]], shared by interpreted eval and
  * generated code. Kept as a standalone serializable object so the
  * codegen path can reference it. */
object LshBucketsEval extends Serializable {

  /** bucket(t) = Σ_i [dot(v, planes(t)(i)) > 0] · 2^i — the same
    * left-to-right double fold as the codegen'd `vec_dot`, so results
    * are bit-identical to the composed-column form it replaces. A NULL
    * vector element makes the dot NULL, which (like
    * `when(dot > 0, …).otherwise(0)`) contributes bit 0. */
  def compute(vec: ArrayData, planes: Array[Array[Array[Double]]], isFloat: Boolean): ArrayData = {
    val tables = planes.length
    val out = new Array[Int](tables)
    var t = 0
    while (t < tables) {
      val tp = planes(t)
      var bucket = 0
      var i = 0
      while (i < tp.length) {
        val plane = tp(i)
        val n = math.min(vec.numElements(), plane.length)
        var acc = 0.0
        var nul = false
        var j = 0
        while (j < n && !nul) {
          if (vec.isNullAt(j)) nul = true
          else {
            val v = if (isFloat) vec.getFloat(j).toDouble else vec.getDouble(j)
            acc += v * plane(j)
          }
          j += 1
        }
        // unequal lengths: vec_dot would return NULL → bit 0; same here
        if (!nul && vec.numElements() == plane.length && acc > 0) bucket |= 1 << i
        i += 1
      }
      out(t) = bucket
      t += 1
    }
    new GenericArrayData(out)
  }

  /** Parse a foldable array<array<array<double>>> literal value. */
  def parsePlanes(value: Any): Array[Array[Array[Double]]] = {
    val outer = value.asInstanceOf[ArrayData]
    Array.tabulate(outer.numElements()) { t =>
      val mid = outer.getArray(t)
      Array.tabulate(mid.numElements()) { i =>
        mid.getArray(i).toDoubleArray()
      }
    }
  }
}

/** `lsh_buckets(vec, planes)` — all L random-hyperplane bucket codes of
  * an embedding in one pass, codegen'd.
  *
  * Replaces the composed form (a `transform` over the plane tensor
  * with an `aggregate` bit-fold calling `vec_dot` per plane): Spark's
  * higher-order functions are interpreted, so that shape pays lambda
  * dispatch per plane per row. Here the whole L×B×dim triple loop runs
  * in one call. The plane tensor must be a foldable literal (it is
  * driver-generated from a fixed seed; see `operators.Ann.planes`).
  */
case class LshBuckets(vec: Expression, planesExpr: Expression) extends BinaryExpression {

  override def left: Expression = vec
  override def right: Expression = planesExpr
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = vec.nullable
  override def prettyName: String = "lsh_buckets"

  private def isFloat: Boolean =
    vec.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def checkInputDataTypes(): TypeCheckResult = {
    val vecOk = vec.dataType match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    val planesOk = planesExpr.foldable && (planesExpr.dataType match {
      case ArrayType(ArrayType(ArrayType(DoubleType, _), _), _) => true
      case _ => false
    })
    if (vecOk && planesOk) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<float|double>, foldable array<array<array<double>>>), " +
        s"got (${vec.dataType.catalogString}, ${planesExpr.dataType.catalogString})")
  }

  @transient private lazy val planes: Array[Array[Array[Double]]] =
    LshBucketsEval.parsePlanes(planesExpr.eval(null))

  override protected def nullSafeEval(v: Any, unused: Any): Any =
    LshBucketsEval.compute(v.asInstanceOf[ArrayData], planes, isFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val planesRef = ctx.addReferenceObj("lshPlanes", planes, "double[][][]")
    nullSafeCodeGen(ctx, ev, (v, _) =>
      s"${ev.value} = graft.functions.LshBucketsEval.compute($v, $planesRef, $isFloat);")
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): LshBuckets =
    copy(vec = l, planesExpr = r)
}

object LshFunctions {
  import org.apache.spark.sql.functions.call_function

  def register(spark: org.apache.spark.sql.SparkSession): Unit = GraftFunctions.install(spark)

  def lsh_buckets(vec: Column, planes: Column): Column =
    call_function("lsh_buckets", vec, planes)
}
