package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.functions.{MinhashFamily, MinhashFunctions}

class MinhashSpec extends AnyFunSuite with SharedSparkSession {

  override protected def setUpSession(s: SparkSession): Unit = MinhashFunctions.register(s)

  private val K = MinhashFunctions.DefaultK
  private val P = MinhashFamily.P

  /** The composed-column form minhash_sig replaces: base hash per
    * token via md5/conv, then array_min over an affine rehash — the
    * exact shape mirrored by the DuckDB oracle SQL in Pipeline. */
  private def composedSig(arr: org.apache.spark.sql.Column): Seq[org.apache.spark.sql.Column] = {
    val th = transform(arr, tk =>
      (conv(substring(md5(tk), 1, 8), 16, 10).cast("long") % P).cast("long"))
    (0 until K).map(j =>
      array_min(transform(th, h =>
        (lit(MinhashFamily.a(j)) * h + lit(MinhashFamily.b(j))) % lit(P))))
  }

  test("minhash_sig matches the composed md5/conv/array_min columns") {
    import spark.implicits._
    val gen = Gen.listOf(Gen.oneOf(
      Gen.alphaNumStr, Gen.asciiPrintableStr, Gen.const(""), Gen.const("héllo wörld")))
    val samples = (0 until 25).flatMap(i =>
      gen.apply(Gen.Parameters.default, Seed(i.toLong)))
    val df = samples.zipWithIndex.map { case (tk, i) => (i, tk) }.toDF("id", "tok")
    val rows = df
      .select(col("id"),
        MinhashFunctions.minhash_sig(col("tok")).as("got"),
        array(composedSig(col("tok")): _*).as("want"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getSeq[Any](1) == r.getSeq[Any](2), s"row ${r.getInt(0)}"))
  }

  test("interpreted eval matches codegen result") {
    import spark.implicits._
    val tokens = Seq("alpha", "beta", "gamma", "alpha beta")
    val fromDf = Seq(Tuple1(tokens)).toDF("tok")
      .select(MinhashFunctions.minhash_sig(col("tok"))).head.getSeq[Long](0)
    val arr = new org.apache.spark.sql.catalyst.util.GenericArrayData(
      tokens.map(org.apache.spark.unsafe.types.UTF8String.fromString).toArray[Any])
    val direct = MinhashFamily.compute(arr, K)
    assert(fromDf == (0 until K).map(direct.getLong))
  }

  test("empty and all-null token arrays yield K nulls; null array yields null") {
    import spark.implicits._
    val df = Seq(
      (1, Seq.empty[String]),
      (2, Seq[String](null, null)),
    ).toDF("id", "tok")
    val rows = df.select(col("id"), MinhashFunctions.minhash_sig(col("tok")).as("sig"))
      .orderBy(col("id")).collect()
    rows.foreach { r =>
      val sig = r.getSeq[Any](1)
      assert(sig.size == K && sig.forall(_ == null))
    }
    val nullRow = df.select(MinhashFunctions.minhash_sig(lit(null).cast("array<string>")))
      .head
    assert(nullRow.isNullAt(0))
  }

  test("signature of a superset is element-wise <= (min property)") {
    import spark.implicits._
    val small = Seq("a", "b", "c")
    val big = small ++ Seq("d", "e", "f", "g")
    val Array(s1, s2) = Seq(Tuple1(small), Tuple1(big)).toDF("tok")
      .select(MinhashFunctions.minhash_sig(col("tok"))).collect()
      .map(_.getSeq[Long](0))
    assert(s1.zip(s2).forall { case (a, b) => b <= a })
  }

  test("sorted_intersect_size matches size(array_intersect) on sorted distinct arrays") {
    import spark.implicits._
    graft.functions.SortedIntersectFunctions.register(spark)
    val word = Gen.oneOf("a", "b", "cc", "dd", "e", "ff", "g", "hh", "i", "jj",
      "kappa", "lambda", "", "\u00e9\u00e9")
    val gen = for { xs <- Gen.listOf(word); ys <- Gen.listOf(word) } yield (xs, ys)
    val samples = (0 until 60).flatMap(i =>
      gen.apply(Gen.Parameters.default, Seed(1000L + i)))
    val df = samples.zipWithIndex
      .map { case ((xs, ys), i) => (i, xs.distinct.sorted, ys.distinct.sorted) }
      .toDF("id", "a", "b")
    val rows = df.select(col("id"),
        graft.functions.SortedIntersectFunctions
          .sorted_intersect_size(col("a"), col("b")).as("fast"),
        size(array_intersect(col("a"), col("b"))).as("slow"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getInt(1) == r.getInt(2), s"row ${r.getInt(0)}"))
  }
}
