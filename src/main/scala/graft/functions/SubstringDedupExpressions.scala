package graft.functions

import org.apache.commons.codec.digest.DigestUtils
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Kernels for the exact cross-document substring dedup (the Lee et
  * al. 2022 "Deduplicating Training Data Makes Language Models Better"
  * class, at fixed w-token window granularity): every w-token window
  * is fingerprinted with the engine-portable 60-bit md5-hex-prefix
  * hash, duplicated fingerprints are resolved corpus-globally to a
  * single kept occurrence, and every other occurrence's token range is
  * removed from its document. Equivalent to the suffix-array method's
  * guarantee at w granularity: any duplicated span of length >= w
  * contains a duplicated aligned w-window at every offset, so removing
  * covered tokens removes the span.
  */
object SubstringDedupKernel extends Serializable {

  /** Hash of EVERY w-token window, in document order (one per start
    * position): the per-window fingerprint relation, computed in one
    * codegen'd pass with no intermediate shingle strings (same md5
    * framing as [[ShingleKmvKernel]] — bit-identical to
    * `conv(substr(md5(space-joined window),1,15),16,10)`). Empty when
    * the document has fewer than w tokens. */
  def windowHashes(arr: ArrayData, w: Int): ArrayData = {
    val count = arr.numElements()
    if (count < w) return new GenericArrayData(Array.emptyLongArray)
    val toks = new Array[Array[Byte]](count)
    var i = 0
    while (i < count) {
      toks(i) = if (arr.isNullAt(i)) null else arr.getUTF8String(i).getBytes
      i += 1
    }
    val md = DigestUtils.getMd5Digest
    val out = new Array[Long](count - w + 1)
    i = 0
    while (i < out.length) {
      md.reset()
      var first = true
      var j = 0
      while (j < w) {
        val t = toks(i + j)
        if (t != null) {
          if (!first) md.update(' '.toByte)
          md.update(t)
          first = false
        }
        j += 1
      }
      val d = md.digest()
      out(i) = ((((d(0) & 255L) << 48) | ((d(1) & 255L) << 40) |
        ((d(2) & 255L) << 32) | ((d(3) & 255L) << 24) |
        ((d(4) & 255L) << 16) | ((d(5) & 255L) << 8) |
        (d(6) & 255L)) << 4) | ((d(7) >> 4) & 15L)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Tokens NOT covered by any removed window: `starts` are 1-based
    * window start positions, each covering [start, start+w). One
    * merged two-pointer pass — overlap-safe, so a pathological
    * document whose every window is removed costs O(n + m), never
    * O(n·m). Ascending non-null `starts` run allocation-free; an
    * unsorted array or NULL elements (both possible from ad-hoc SQL)
    * are detected, nulls dropped, and the rest sorted first. */
  def removeSpans(arr: ArrayData, starts: ArrayData, w: Int): ArrayData = {
    val n = arr.numElements()
    val m0 = starts.numElements()
    if (m0 == 0) return arr.copy()
    // The merge assumes `starts` ascending and non-null. Internal call
    // sites guarantee both, but the function is also registered for
    // ad-hoc SQL where an unsorted array would silently skip removals
    // and a NULL element would read garbage — detect both in one
    // compare-per-element pass (no allocation on the clean hot path)
    // and fall back to a filtered sorted copy only when violated.
    var clean = true
    var prev = Long.MinValue
    var j = 0
    while (clean && j < m0) {
      if (starts.isNullAt(j)) clean = false
      else {
        val v = starts.getLong(j)
        if (v < prev) clean = false
        prev = v
      }
      j += 1
    }
    var m = m0
    val st: Array[Long] =
      if (clean) null
      else {
        val buf = new Array[Long](m0)
        var nn = 0
        var i = 0
        while (i < m0) {
          if (!starts.isNullAt(i)) { buf(nn) = starts.getLong(i); nn += 1 }
          i += 1
        }
        val a = java.util.Arrays.copyOf(buf, nn)
        java.util.Arrays.sort(a)
        m = nn
        a
      }
    if (m == 0) return arr.copy()
    @inline def startAt(p: Int): Long =
      if (st == null) starts.getLong(p) else st(p)
    val kept = new Array[Any](n)
    var nKept = 0
    var p = 0
    var i = 1 // 1-based token index
    while (i <= n) {
      // discard windows that end before i
      while (p < m && startAt(p) + w <= i) p += 1
      val covered = p < m && startAt(p) <= i
      if (!covered) {
        kept(nKept) = if (arr.isNullAt(i - 1)) null else arr.getUTF8String(i - 1)
        nKept += 1
      }
      i += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(
      kept.asInstanceOf[Array[AnyRef]], nKept))
  }
}

/** `shingle_hashes(tokens, w)` — array<bigint> of every w-token window
  * fingerprint in position order (empty below w tokens). The exploded
  * (doc, start, fp) relation this feeds is rows of three longs — the
  * shingle STRING never materializes. */
case class ShingleHashes(child: Expression, w: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "shingle_hashes"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) if w >= 1 => TypeCheckResult.TypeCheckSuccess
    case ArrayType(StringType, _) =>
      TypeCheckResult.TypeCheckFailure(s"$prettyName needs w >= 1, got $w")
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got ${other.catalogString}")
  }

  override protected def nullSafeEval(input: Any): Any =
    SubstringDedupKernel.windowHashes(input.asInstanceOf[ArrayData], w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kernel = ctx.addReferenceObj("substrDedupKernel", SubstringDedupKernel,
      "graft.functions.SubstringDedupKernel$")
    nullSafeCodeGen(ctx, ev, arr => s"${ev.value} = $kernel.windowHashes($arr, $w);")
  }

  override protected def withNewChildInternal(c: Expression): ShingleHashes =
    copy(child = c)
}

/** `remove_spans(tokens, starts, w)` — tokens with every [start,
  * start+w) range dropped (starts 1-based; ascending non-null is the
  * fast path, unsorted input is sorted and NULL elements are dropped
  * defensively). */
case class RemoveSpans(left: Expression, right: Expression, w: Int)
    extends BinaryExpression {

  override def dataType: DataType = left.dataType
  override def nullable: Boolean = left.nullable || right.nullable
  override def prettyName: String = "remove_spans"

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(StringType, _), ArrayType(LongType, _)) if w >= 1 =>
      TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<string>, array<bigint>) and w >= 1, " +
        s"got (${l.catalogString}, ${r.catalogString}), w=$w")
  }

  override protected def nullSafeEval(tok: Any, starts: Any): Any =
    SubstringDedupKernel.removeSpans(
      tok.asInstanceOf[ArrayData], starts.asInstanceOf[ArrayData], w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kernel = ctx.addReferenceObj("substrDedupKernel", SubstringDedupKernel,
      "graft.functions.SubstringDedupKernel$")
    nullSafeCodeGen(ctx, ev,
      (tok, st) => s"${ev.value} = $kernel.removeSpans($tok, $st, $w);")
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): RemoveSpans =
    copy(left = l, right = r)
}

object SubstringDedupFunctions {
  import org.apache.spark.sql.functions.call_function
  import org.apache.spark.sql.catalyst.expressions.Literal

  val hashesBuilder: Seq[Expression] => Expression = {
    case Seq(tok, Literal(w: Int, IntegerType)) => ShingleHashes(tok, w)
    case _ => throw new IllegalArgumentException(
      "shingle_hashes(tokens array<string>, w int-literal)")
  }

  val removeBuilder: Seq[Expression] => Expression = {
    case Seq(tok, starts, Literal(w: Int, IntegerType)) => RemoveSpans(tok, starts, w)
    case _ => throw new IllegalArgumentException(
      "remove_spans(tokens array<string>, starts array<bigint>, w int-literal)")
  }

  def register(spark: org.apache.spark.sql.SparkSession): Unit = GraftFunctions.install(spark)

  def shingle_hashes(tok: Column, w: Int): Column = {
    import org.apache.spark.sql.functions.lit
    call_function("shingle_hashes", tok, lit(w))
  }

  def remove_spans(tok: Column, starts: Column, w: Int): Column = {
    import org.apache.spark.sql.functions.lit
    call_function("remove_spans", tok, starts, lit(w))
  }
}
