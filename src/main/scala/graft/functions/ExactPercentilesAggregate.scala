package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Distinct-value → occurrence-count map over doubles, keyed by raw
  * IEEE bits in a primitive LongMap — no boxing on the update path,
  * and the exchange carries one (bits, count) pair per DISTINCT value
  * per partition, never the rows. -0.0 is normalized to +0.0 on insert
  * so bit-keying agrees with numeric equality (NaN never appears in
  * the percentile inputs this serves; a NaN input would be ignored by
  * the null check upstream only if literally null — callers own that
  * contract, as Spark's own Percentile does). */
final class ValueCountsBuffer(initialSize: Int = 64) {
  private[functions] val m = new scala.collection.mutable.LongMap[Long](initialSize)

  def add(v: Double, c: Long): Unit = {
    val bits = java.lang.Double.doubleToRawLongBits(v + 0.0d)
    m(bits) = m.getOrElse(bits, 0L) + c
  }

  def merge(other: ValueCountsBuffer): Unit =
    other.m.foreach { case (bits, c) => m(bits) = m.getOrElse(bits, 0L) + c }
}

/** `exact_pcts(v double, p1, p2, ...)` — EXACT interpolated percentiles
  * in ONE pass over the data: array<double> with one entry per
  * requested percentile, bit-identical to Spark's
  * `percentile(v, array(p...))` (the interpolation replicates
  * Percentile.getPercentile's double arithmetic term by term, proven
  * equivalent by the r15 bucketed rewrite's adversarial spec).
  *
  * Why not `percentile()`: Spark's Percentile buffers a boxed
  * OpenHashMap[AnyRef, Long] and updates it interpreted per row — the
  * whole q25 wall in r14. Why not the r15 two-level bucketed form: it
  * is pure codegen but needs TWO scans of the fact table (histogram
  * pass + bracketing-value pass). This aggregate does one scan with a
  * primitive-keyed map: update is a LongMap increment on raw bits,
  * partials collapse map-side, and the exchange carries (bits, count)
  * pairs per distinct value — for TPC-H quantities/prices the distinct
  * set is generator-bounded (50 quantities; prices are
  * qty × retailprice pairs), so partials stay far under the row count.
  *
  * SCALE CONTRACT: buffer size is O(distinct values per group). For
  * genuinely unbounded-cardinality inputs (raw timestamps, free-form
  * doubles) use the two-scan bucketed form
  * (`Relational.exactPercentiles`), which never materializes a
  * value-keyed structure anywhere. This is the same cardinality
  * contract as any COUNT(DISTINCT) plan and is stated here rather
  * than guessed at: the q25 columns carry ≤ ~5M distinct values at any
  * TPC-H scale factor, ~80 MB a buffer worst-case. */
case class ExactPercentilesDouble(
    child: Expression,
    percentiles: Seq[Double],
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[ValueCountsBuffer] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = true
  override def prettyName: String = "exact_pcts"
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (percentiles.isEmpty || percentiles.exists(p => p < 0.0 || p > 1.0))
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName percentiles must be in [0, 1], got ${percentiles.mkString(",")}")
    else child.dataType match {
      case DoubleType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a double input, got ${t.catalogString}")
    }

  override def createAggregationBuffer(): ValueCountsBuffer = new ValueCountsBuffer()

  override def update(buf: ValueCountsBuffer, input: InternalRow): ValueCountsBuffer = {
    val v = child.eval(input)
    if (v != null) buf.add(v.asInstanceOf[Double], 1L)
    buf
  }

  override def merge(buf: ValueCountsBuffer, other: ValueCountsBuffer): ValueCountsBuffer = {
    buf.merge(other); buf
  }

  override def eval(buf: ValueCountsBuffer): Any = {
    val n = buf.m.size
    if (n == 0) return null
    // sort the distinct values (counts look up by bits afterwards);
    // cumulative walk resolves every needed order statistic in one pass
    val vals = new Array[Double](n)
    var i = 0
    buf.m.foreachKey { bits => vals(i) = java.lang.Double.longBitsToDouble(bits); i += 1 }
    java.util.Arrays.sort(vals)
    var total = 0L
    buf.m.foreachValue(total += _)
    // the value at 0-based index k is the first v (ascending) whose
    // cumulative count exceeds k
    val ixs = percentiles.map(p => p * (total - 1).toDouble)
    val need = ixs.flatMap(ix => Seq(math.floor(ix).toLong, math.ceil(ix).toLong))
      .distinct.sorted.toArray
    val found = new scala.collection.mutable.LongMap[Double](need.length * 2)
    var cum = 0L
    var t = 0
    var j = 0
    while (j < n && t < need.length) {
      cum += buf.m(java.lang.Double.doubleToRawLongBits(vals(j)))
      while (t < need.length && need(t) < cum) { found(need(t)) = vals(j); t += 1 }
      j += 1
    }
    // Percentile.getPercentile's interpolation, term by term (identical
    // IEEE ops and order to the r15 expression form, which the
    // R15OptSpec adversarial frames pinned against percentile()):
    // (⌈ix⌉−ix)·v⌊ix⌋ + (ix−⌊ix⌋)·v⌈ix⌉, collapsing to v⌊ix⌋ when the
    // index is integral or the bracketing values are equal
    val out = new Array[Double](ixs.length)
    var k = 0
    while (k < ixs.length) {
      val ix = ixs(k)
      val lo = found(math.floor(ix).toLong)
      val hi = found(math.ceil(ix).toLong)
      out(k) =
        if (math.ceil(ix) == math.floor(ix) || lo == hi) lo
        else (math.ceil(ix) - ix) * lo + (ix - math.floor(ix)) * hi
      k += 1
    }
    new GenericArrayData(out)
  }

  override def serialize(buf: ValueCountsBuffer): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + buf.m.size * 16)
    bb.putInt(buf.m.size)
    buf.m.foreach { case (bits, c) => bb.putLong(bits); bb.putLong(c) }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): ValueCountsBuffer = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt()
    val buf = new ValueCountsBuffer(math.max(64, n))
    var i = 0
    while (i < n) {
      val bits = bb.getLong(); val c = bb.getLong()
      buf.m(bits) = buf.m.getOrElse(bits, 0L) + c
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(offset: Int): ExactPercentilesDouble =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): ExactPercentilesDouble =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): ExactPercentilesDouble =
    copy(child = c(0))
}

object ExactPercentilesFunctions {
  import org.apache.spark.sql.functions.{call_function, lit}

  val builder: Seq[Expression] => Expression = {
    case child +: rest if rest.nonEmpty &&
        rest.forall { case Literal(_: Double, DoubleType) => true; case _ => false } =>
      ExactPercentilesDouble(child,
        rest.map { case Literal(d: Double, DoubleType) => d; case _ => 0.0 })
    case _ => throw new IllegalArgumentException(
      "exact_pcts(v double, p1 double-literal, p2 double-literal, ...)")
  }

  def register(spark: org.apache.spark.sql.SparkSession): Unit = GraftFunctions.install(spark)

  def exact_pcts(v: Column, ps: Double*): Column =
    call_function("exact_pcts", v +: ps.map(p => lit(p)): _*)
}
