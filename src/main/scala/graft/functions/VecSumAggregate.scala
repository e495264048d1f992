package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import java.math.{BigDecimal => JBigDecimal}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** `vec_decimal_sum(array<decimal(38,9)>)` — element-wise EXACT sum of
  * fixed-width decimal vectors, as one aggregate over whole arrays.
  *
  * The scale story: the k-means centroid update (and any element-wise
  * vector mean) otherwise needs `posexplode` — `dim` rows per vector
  * crossing the shuffle, i.e. 768 × 10⁹ rows for production embedding
  * dims. This aggregate folds each vector into a per-group running
  * decimal array map-side, so the exchange carries one `dim`-element
  * partial per (group, partition) regardless of corpus size.
  *
  * Decimal (not double) on purpose: decimal addition is exact and
  * therefore associative/commutative, so the result is IDENTICAL under
  * any partitioning or row order — the property that makes a
  * distributed centroid hash-comparable against a single-node oracle
  * (see Kmeans.centroidsOf's scale-9 note). NULL rows and NULL arrays
  * are ignored; all non-null inputs must share one length (the first
  * row fixes it — mismatches throw rather than silently truncate).
  */
final class DecimalVecBuffer {
  private[functions] var sums: Array[JBigDecimal] = null
  private[functions] var count: Long = 0L

  def add(arr: ArrayData, scale: Int): Unit = {
    val n = arr.numElements()
    if (sums == null) sums = Array.fill(n)(JBigDecimal.ZERO)
    require(sums.length == n,
      s"vec_decimal_sum: vector length $n != ${sums.length}")
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val d = arr.get(i, DecimalType(38, scale))
          .asInstanceOf[org.apache.spark.sql.types.Decimal]
        sums(i) = sums(i).add(d.toJavaBigDecimal)
      }
      i += 1
    }
    count += 1
  }

  def merge(other: DecimalVecBuffer): Unit = if (other.sums != null) {
    if (sums == null) { sums = other.sums; count = other.count }
    else {
      require(sums.length == other.sums.length,
        s"vec_decimal_sum: merge length ${other.sums.length} != ${sums.length}")
      var i = 0
      while (i < sums.length) { sums(i) = sums(i).add(other.sums(i)); i += 1 }
      count += other.count
    }
  }
}

case class DecimalVecSum(
    vec: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[DecimalVecBuffer] {

  private val elemScale = 9

  override def children: Seq[Expression] = Seq(vec)
  override def nullable: Boolean = true
  override def prettyName: String = "vec_decimal_sum"

  override def dataType: DataType =
    ArrayType(DecimalType(38, elemScale), containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = vec.dataType match {
    case ArrayType(d: DecimalType, _) if d.precision == 38 && d.scale == elemScale =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<decimal(38,$elemScale)>, got ${t.catalogString}")
  }

  override def createAggregationBuffer(): DecimalVecBuffer = new DecimalVecBuffer

  override def update(buf: DecimalVecBuffer, input: InternalRow): DecimalVecBuffer = {
    val v = vec.eval(input)
    if (v != null) buf.add(v.asInstanceOf[ArrayData], elemScale)
    buf
  }

  override def merge(buf: DecimalVecBuffer, other: DecimalVecBuffer): DecimalVecBuffer = {
    buf.merge(other); buf
  }

  override def eval(buf: DecimalVecBuffer): Any =
    if (buf.sums == null) null
    else new GenericArrayData(buf.sums.map { d =>
      // inputs are scale 9 and exact addition preserves it, so this
      // setScale never rounds — it only normalizes the representation
      org.apache.spark.sql.types.Decimal(d.setScale(elemScale)): Any
    }.toArray)

  override def serialize(buf: DecimalVecBuffer): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeLong(buf.count)
    if (buf.sums == null) out.writeInt(-1)
    else {
      out.writeInt(buf.sums.length)
      buf.sums.foreach { d =>
        val bytes = d.setScale(elemScale).unscaledValue().toByteArray
        out.writeInt(bytes.length)
        out.write(bytes)
      }
    }
    out.flush(); bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): DecimalVecBuffer = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val buf = new DecimalVecBuffer
    buf.count = in.readLong()
    val n = in.readInt()
    if (n >= 0) {
      buf.sums = new Array[JBigDecimal](n)
      var i = 0
      while (i < n) {
        val len = in.readInt()
        val b = new Array[Byte](len)
        in.readFully(b)
        buf.sums(i) = new JBigDecimal(new java.math.BigInteger(b), elemScale)
        i += 1
      }
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): DecimalVecSum =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): DecimalVecSum =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(vec = newChildren.head)
}

object VecSumFunctions {
  import org.apache.spark.sql.functions.call_function

  def register(spark: org.apache.spark.sql.SparkSession): Unit = GraftFunctions.install(spark)

  def vec_decimal_sum(v: Column): Column = call_function("vec_decimal_sum", v)
}
