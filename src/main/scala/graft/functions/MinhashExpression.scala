package graft.functions

import org.apache.commons.codec.digest.DigestUtils
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** The portable MinHash family shared by the Spark engine and the
  * DuckDB oracle SQL (see `queries/Pipeline.scala`):
  *
  *   base(x) = (first 8 hex chars of md5(x) as unsigned int) mod P
  *   h_j(x)  = (A_j * base(x) + B_j) mod P,  P = 2^31 - 1
  *
  * `base` fits in 31 bits and A_j, B_j < P, so every product stays
  * under 2^62 — plain 64-bit arithmetic, bit-identical across engines.
  * One md5 per token; the k-1 extra hash functions are multiply-adds.
  */
object MinhashFamily extends Serializable {
  val P: Long = 2147483647L // 2^31 - 1
  def a(j: Int): Long = (1103515245L * (j + 1)) % P
  def b(j: Int): Long = (12345L + 1000003L * j) % P

  private val MaxK = 64
  private val As: Array[Long] = Array.tabulate(MaxK)(a)
  private val Bs: Array[Long] = Array.tabulate(MaxK)(b)

  /** One-pass signature: out(j) = min over non-null tokens of
    * h_j(token); an array of k NULLs when no tokens contribute
    * (matching `array_min`/`list_aggregate('min')` over empty input).
    * Called from both interpreted eval and generated code. */
  def compute(arr: ArrayData, k: Int): ArrayData = {
    val mins = new Array[Long](k)
    var any = false
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val d = DigestUtils.md5(arr.getUTF8String(i).getBytes)
        val base = (((d(0) & 255L) << 24) | ((d(1) & 255L) << 16) |
          ((d(2) & 255L) << 8) | (d(3) & 255L)) % P
        var j = 0
        if (any) {
          while (j < k) {
            val h = (As(j) * base + Bs(j)) % P
            if (h < mins(j)) mins(j) = h
            j += 1
          }
        } else {
          while (j < k) { mins(j) = (As(j) * base + Bs(j)) % P; j += 1 }
          any = true
        }
      }
      i += 1
    }
    if (any) new GenericArrayData(mins)
    else new GenericArrayData(new Array[Any](k))
  }
}

/** Codegen'd one-pass MinHash signature over an array of strings.
  *
  * Replaces the composed-column form
  * `array_min(transform(tokenHashes(arr), h -> (A_j*h + B_j) % P))`
  * repeated k times: Spark's higher-order functions have no
  * `doGenCode`, so that shape interprets k+1 lambdas per row and
  * allocates k+1 intermediate arrays. Here the md5 runs once per token
  * and all k running minima update in a single pass — the same
  * asymptotics DuckDB gets on the oracle side, which keeps the bench
  * comparison honest. Semantics match the composed form exactly
  * (null tokens skipped, empty/all-null input → array of k NULLs).
  *
  * Mirrors the reference's approach of hashing each value once per
  * signature row rather than re-hashing per hash function
  * (ref duckdb/postgres_scanner has no minhash — this is part of the
  * training-data-pipeline surface layered on top).
  */
case class MinhashSig(child: Expression, k: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "minhash_sig"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) if k >= 1 && k <= 64 =>
      TypeCheckResult.TypeCheckSuccess
    case ArrayType(StringType, _) =>
      TypeCheckResult.TypeCheckFailure(s"$prettyName k must be in [1, 64], got $k")
    case other =>
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<string>, got ${other.catalogString}")
  }

  override protected def nullSafeEval(input: Any): Any =
    MinhashFamily.compute(input.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val family = ctx.addReferenceObj("minhashFamily", MinhashFamily,
      "graft.functions.MinhashFamily$")
    nullSafeCodeGen(ctx, ev, arr => s"${ev.value} = $family.compute($arr, $k);")
  }

  override protected def withNewChildInternal(c: Expression): MinhashSig =
    copy(child = c)
}

object MinhashFunctions {
  import org.apache.spark.sql.functions.call_function

  val DefaultK = 16

  def register(spark: org.apache.spark.sql.SparkSession): Unit = GraftFunctions.install(spark)

  def minhash_sig(arr: Column): Column = call_function("minhash_sig", arr)
}
