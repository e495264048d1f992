package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Bounded k-minimum-values buffer: the k smallest DISTINCT longs seen.
  *
  * TreeSet-backed (k is small — hundreds), so membership, max and
  * eviction are all O(log k). Distinctness is what separates this from
  * a plain bottom-k: the KMV cardinality estimator (Bar-Yossef et al.,
  * "Counting distinct elements in a data stream", RANDOM 2002) needs
  * the k-th smallest UNIQUE hash, and set semantics also make the
  * sketch idempotent under re-insertion — merging two sketches of
  * overlapping streams never double-counts.
  */
final class KmvBuffer(val k: Int) {
  private[functions] val set = new java.util.TreeSet[java.lang.Long]()

  def insert(h: Long): Unit = {
    if (set.size < k) { set.add(h); () }
    else if (h < set.last() && set.add(h)) { set.remove(set.last()); () }
  }

  def merge(other: KmvBuffer): Unit = {
    val it = other.set.iterator()
    while (it.hasNext) insert(it.next())
  }

  /** Kept minima, ascending. */
  def sortedArray: Array[Long] = {
    val out = new Array[Long](set.size)
    val it = set.iterator()
    var i = 0
    while (it.hasNext) { out(i) = it.next(); i += 1 }
    out
  }
}

/** `kmv_minima(h, k)` — aggregate returning the k smallest distinct
  * hash values as `array<bigint>` ascending (all of them if fewer than
  * k distinct values were seen).
  *
  * The distinct-count sketch primitive: with h uniform on [0, M), the
  * estimator is `(k-1) * M / kth_min`. The scale story is what a
  * sketch buys over COUNT(DISTINCT): a distinct count must shuffle
  * every distinct value to its reducer — for corpus shingles, an
  * exchange proportional to the corpus — while this aggregate reduces
  * each partition to ≤ k longs per group map-side, so the exchange
  * carries `groups · k · 8` bytes no matter how many shingles exist.
  * Sketches of disjoint shards merge exactly (set union re-capped at
  * k), so per-shard sketches can be stored and combined later without
  * touching the data again. NULL inputs are ignored.
  *
  * The input may also be `array<bigint>` — each element is inserted,
  * so pre-sketched per-document minima (`shingle_kmv`) merge straight
  * into the group sketch without ever re-exploding to one row per
  * hash. Merging per-document k-min arrays this way is exact ONLY
  * when the per-document sketch kept at least as many minima as this
  * aggregate keeps — precondition `k(doc) >= k(group)` (e.g.
  * `shingle_kmv(tok, n, kd)` feeding `kmv_minima(mins, kg)` needs
  * `kd >= kg`). Then any hash evicted from a document-level buffer
  * was beaten by kd >= kg smaller distinct hashes of that same
  * document, which all reach the group buffer. With kd < kg the
  * result is a valid-looking but APPROXIMATE sketch (a hash ranked
  * between kd and kg within one document is lost) — the expression
  * cannot check the producer's k, so the caller must. */
case class KmvMinima(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[KmvBuffer] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def prettyName: String = "kmv_minima"

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (k < 1) TypeCheckResult.TypeCheckFailure(s"$prettyName k must be >= 1, got $k")
    else child.dataType match {
      case LongType | ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires bigint or array<bigint> input, got ${t.catalogString}")
    }

  private lazy val arrayInput = child.dataType.isInstanceOf[ArrayType]

  override def createAggregationBuffer(): KmvBuffer = new KmvBuffer(k)

  override def update(buf: KmvBuffer, input: InternalRow): KmvBuffer = {
    val v = child.eval(input)
    if (v != null) {
      if (arrayInput) {
        val a = v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        val n = a.numElements()
        var i = 0
        while (i < n) { if (!a.isNullAt(i)) buf.insert(a.getLong(i)); i += 1 }
      } else buf.insert(v.asInstanceOf[Long])
    }
    buf
  }

  override def merge(buf: KmvBuffer, other: KmvBuffer): KmvBuffer = {
    buf.merge(other); buf
  }

  override def eval(buf: KmvBuffer): Any = new GenericArrayData(buf.sortedArray)

  override def serialize(buf: KmvBuffer): Array[Byte] = {
    val arr = buf.sortedArray
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(arr.length)
    var i = 0
    while (i < arr.length) { out.writeLong(arr(i)); i += 1 }
    out.flush(); bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): KmvBuffer = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = new KmvBuffer(k)
    var i = 0
    while (i < n) { buf.insert(in.readLong()); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(offset: Int): KmvMinima =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): KmvMinima =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): KmvMinima =
    copy(child = c(0))
}

object KmvFunctions {
  import org.apache.spark.sql.functions.call_function
  import org.apache.spark.sql.catalyst.expressions.Literal

  val kmvBuilder: Seq[Expression] => Expression = {
    case Seq(h, Literal(k: Int, IntegerType)) => KmvMinima(h, k)
    case _ => throw new IllegalArgumentException(
      "kmv_minima(h bigint | array<bigint>, k int-literal)")
  }

  val shingleBuilder: Seq[Expression] => Expression = {
    case Seq(tok, Literal(n: Int, IntegerType), Literal(k: Int, IntegerType)) =>
      ShingleKmv(tok, n, k)
    case _ => throw new IllegalArgumentException(
      "shingle_kmv(tokens array<string>, n int-literal, k int-literal)")
  }

  def register(spark: org.apache.spark.sql.SparkSession): Unit = GraftFunctions.install(spark)

  def kmv_minima(h: Column, k: Int): Column = {
    import org.apache.spark.sql.functions.lit
    call_function("kmv_minima", h, lit(k))
  }

  def shingle_kmv(tok: Column, n: Int, k: Int): Column = {
    import org.apache.spark.sql.functions.lit
    call_function("shingle_kmv", tok, lit(n), lit(k))
  }
}
