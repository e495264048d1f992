package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Bounded top-k buffer: keeps the k best (score desc, id asc) pairs.
  *
  * Array-backed binary min-heap rooted at the current WORST kept
  * element, so an incoming row either replaces the root in O(log k) or
  * is discarded in O(1). Total order: higher score wins; ties broken
  * by smaller id — identical to
  * `row_number() OVER (ORDER BY score DESC, id ASC) <= k`.
  */
final class TopKBuffer(val k: Int) {
  private[functions] var size = 0
  private[functions] val scores = new Array[Double](k)
  private[functions] val ids = new Array[Long](k)

  /** true if (s1, id1) is worse (evicted earlier) than (s2, id2).
    * Double.compare ordering, so NaN ranks above +Inf and -0.0 below
    * 0.0 — exactly Spark's sort semantics for DoubleType, keeping this
    * aggregate interchangeable with a row_number window even on
    * pathological scores. */
  private def worse(s1: Double, id1: Long, s2: Double, id2: Long): Boolean = {
    val c = java.lang.Double.compare(s1, s2)
    c < 0 || (c == 0 && id1 > id2)
  }

  def insert(score: Double, id: Long): Unit = {
    if (size < k) {
      var i = size
      scores(i) = score; ids(i) = id; size += 1
      // sift up
      while (i > 0 && worse(scores(i), ids(i), scores((i - 1) / 2), ids((i - 1) / 2))) {
        val p = (i - 1) / 2
        swap(i, p); i = p
      }
    } else if (worse(scores(0), ids(0), score, id)) {
      scores(0) = score; ids(0) = id
      siftDown(0)
    }
  }

  private def swap(a: Int, b: Int): Unit = {
    val ts = scores(a); scores(a) = scores(b); scores(b) = ts
    val ti = ids(a); ids(a) = ids(b); ids(b) = ti
  }

  private def siftDown(start: Int): Unit = {
    var i = start
    var done = false
    while (!done) {
      val l = 2 * i + 1; val r = l + 1
      var m = i
      if (l < size && worse(scores(l), ids(l), scores(m), ids(m))) m = l
      if (r < size && worse(scores(r), ids(r), scores(m), ids(m))) m = r
      if (m == i) done = true else { swap(i, m); i = m }
    }
  }

  def merge(other: TopKBuffer): Unit = {
    var i = 0
    while (i < other.size) { insert(other.scores(i), other.ids(i)); i += 1 }
  }

  /** (score, id) pairs best-first. */
  def sorted: Array[(Double, Long)] = {
    val out = (0 until size).map(i => (scores(i), ids(i))).toArray
    out.sortInPlace()(Ordering.fromLessThan[(Double, Long)] { case ((s1, i1), (s2, i2)) =>
      val c = java.lang.Double.compare(s1, s2)
      c > 0 || (c == 0 && i1 < i2)
    })
    out
  }
}

/** `topk_by(score, id, k)` — aggregate returning the k best
  * `struct<score double, id bigint>` rows, best first (score desc, id
  * asc tie-break).
  *
  * The scale story: a window `row_number() <= k` must shuffle and sort
  * the ENTIRE scored relation (for ANN: |queries|·|corpus| rows); this
  * aggregate keeps a k-element heap per group per partition, so the
  * map side reduces each partition to ≤ k rows per group before the
  * exchange — the shuffle carries `groups · k · 16 bytes` no matter
  * how large the corpus is. Rows with a NULL score or id are ignored
  * (same as a window over a non-null-scored relation).
  */
case class TopKBy(
    score: Expression,
    id: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKBuffer] {

  override def children: Seq[Expression] = Seq(score, id)
  override def nullable: Boolean = false
  override def prettyName: String = "topk_by"

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("score", DoubleType, nullable = false),
      StructField("id", LongType, nullable = false))),
    containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (k < 1) TypeCheckResult.TypeCheckFailure(s"$prettyName k must be >= 1, got $k")
    else (score.dataType, id.dataType) match {
      case (DoubleType, LongType) => TypeCheckResult.TypeCheckSuccess
      case (s, i) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (double, bigint), got (${s.catalogString}, ${i.catalogString})")
    }

  override def createAggregationBuffer(): TopKBuffer = new TopKBuffer(k)

  override def update(buf: TopKBuffer, input: InternalRow): TopKBuffer = {
    val s = score.eval(input)
    val i = id.eval(input)
    if (s != null && i != null) {
      buf.insert(s.asInstanceOf[Double], i.asInstanceOf[Long])
    }
    buf
  }

  override def merge(buf: TopKBuffer, other: TopKBuffer): TopKBuffer = {
    buf.merge(other); buf
  }

  override def eval(buf: TopKBuffer): Any =
    new GenericArrayData(buf.sorted.map { case (s, i) =>
      InternalRow(s, i)
    }.asInstanceOf[Array[Any]])

  override def serialize(buf: TopKBuffer): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    var i = 0
    while (i < buf.size) {
      out.writeDouble(buf.scores(i)); out.writeLong(buf.ids(i)); i += 1
    }
    out.flush(); bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): TopKBuffer = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = new TopKBuffer(k)
    var i = 0
    while (i < n) { buf.insert(in.readDouble(), in.readLong()); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(offset: Int): TopKBy =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): TopKBy =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): TopKBy =
    copy(score = c(0), id = c(1))
}

object TopKFunctions {
  import org.apache.spark.sql.functions.call_function

  def register(spark: org.apache.spark.sql.SparkSession): Unit = GraftFunctions.install(spark)

  def topk_by(score: Column, id: Column, k: Int): Column = {
    import org.apache.spark.sql.functions.lit
    call_function("topk_by", score, id, lit(k))
  }
}
