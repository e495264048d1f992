package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{CtidFunctions, DecimalFastFunctions, ExactPercentilesFunctions,
  GraftFunctions, KmvFunctions, LshFunctions, MinhashFunctions, SortedIntersectFunctions,
  SubstringDedupFunctions, TextScanFunctions, TopKFunctions, VecSumFunctions, VectorFunctions}

/** The cluster-deployment path: `spark.sql.extensions =
  * graft.GraftExtensions` must make every custom expression and
  * aggregate resolvable from SQL text with no per-call registration. */
class ExtensionsSpec extends AnyFunSuite with SharedSparkSession {

  test("GraftExtensions injects the whole function suite into a new session") {
    spark // ensure the shared context exists
    val prevDefault = SparkSession.getDefaultSession
    val prevActive = SparkSession.getActiveSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    try {
      // builds a NEW SparkSession over the existing context, with the
      // extensions applied at construction — the spark.sql.extensions
      // code path
      val s2 = SparkSession.builder()
        .master("local[4]")
        .withExtensions(new graft.GraftExtensions)
        .getOrCreate()
      val r = s2.sql(
        "SELECT vec_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d, " +
          "vec_dist_sq(array(0.0d), array(2.0d)) AS d2, " +
          "minhash_sig(array('a', 'b')) AS sig, " +
          "sorted_intersect_size(array('a', 'b', 'c'), array('b', 'c', 'd')) AS n, " +
          "pg_ctid_text(pg_ctid_pack(CAST(3 AS BIGINT), 7)) AS ct").head
      assert(r.getDouble(0) == 11.0)
      assert(r.getDouble(1) == 4.0)
      assert(r.getSeq[Long](2).length == graft.functions.MinhashFunctions.DefaultK)
      assert(r.getInt(3) == 2)
      assert(r.getString(4) == "(3,7)")
      // the aggregates resolve from SQL too
      import s2.implicits._
      val top = Seq((1L, 2.0), (1L, 9.0), (2L, 5.0)).toDF("id", "s")
        .groupBy($"id")
        .agg(expr("topk_by(s, id, 1)").as("t"))
        .select($"id", element_at($"t", 1).getField("score").as("best"))
        .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
      assert(top == Map(1L -> 9.0, 2L -> 5.0))
      val vs = Seq(Seq(BigDecimal(1), BigDecimal(2)), Seq(BigDecimal(3), BigDecimal(4)))
        .toDF("v")
        .select(expr("vec_decimal_sum(transform(v, x -> CAST(x AS DECIMAL(38,9))))").as("s"))
        .head.getSeq[java.math.BigDecimal](0)
      assert(vs.map(_.doubleValue()) == Seq(4.0, 6.0))
      // the sketch/dedup kernels resolve from SQL text too
      val sk = s2.sql(
        "SELECT shingle_kmv(array('a','b','c'), 2, 16) AS mins, " +
          "shingle_hashes(array('a','b','c'), 2) AS hs, " +
          "remove_spans(array('a','b','c','d'), array(CAST(3 AS BIGINT)), 2) AS kept").head
      assert(sk.getSeq[Long](0).sorted == sk.getSeq[Long](1).sorted)
      assert(sk.getSeq[String](2) == Seq("a", "b"))
      val kmv = Seq(5L, 9L, 5L, 1L).toDF("h")
        .agg(expr("kmv_minima(h, 2)").as("m")).head.getSeq[Long](0)
      assert(kmv == Seq(1L, 5L))
      // the email scanners resolve from SQL text (injected, not the
      // per-call TextScanFunctions.register path the operators use)
      val em = s2.sql(
        "SELECT email_extract_all('hit a@b.com miss a@b.org') AS d, " +
          "email_extract_all_g('hit a@b.com hit j.d+t@sub-1.host.io') AS g").head
      assert(em.getSeq[String](0) == Seq("a@b.com"))
      assert(em.getSeq[String](1) == Seq("a@b.com", "j.d+t@sub-1.host.io"))
      // the percentile and unscaled-decimal functions resolve from SQL too
      val dec = s2.sql(
        "SELECT exact_pcts(v, 0.5d) AS p, " +
          "sum_unscaled_safe(unscaled_value(d), 10, 2) AS s, " +
          "make_decimal(sum(unscaled_value(d)), 10, 2) AS m " +
          "FROM VALUES (1.0d, CAST(1.25 AS DECIMAL(5,2))), " +
          "(3.0d, CAST(2.50 AS DECIMAL(5,2))) AS t(v, d)").head
      assert(dec.getSeq[Double](0) == Seq(2.0))
      assert(dec.getDecimal(1) == new java.math.BigDecimal("3.75"))
      assert(dec.getDecimal(2) == new java.math.BigDecimal("3.75"))
      // and every name of the table is bound, with no register call
      val reg = s2.sessionState.functionRegistry
      assert(GraftFunctions.all.map(_.name).distinct.size == 20)
      GraftFunctions.all.foreach { f =>
        assert(reg.functionExists(FunctionIdentifier(f.name)), s"${f.name} not injected")
      }
    } finally {
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }

  test("register helpers install the function table once and never replace a binding") {
    val helpers: Seq[SparkSession => Unit] = Seq(
      VectorFunctions.register, MinhashFunctions.register, LshFunctions.register,
      SortedIntersectFunctions.register, TopKFunctions.register, VecSumFunctions.register,
      KmvFunctions.register, SubstringDedupFunctions.register, TextScanFunctions.register,
      CtidFunctions.register, ExactPercentilesFunctions.register, DecimalFastFunctions.register)
    helpers.foreach(_(spark))
    val reg = spark.sessionState.functionRegistry
    def bound = GraftFunctions.all.map(f => f.name -> reg.lookupFunction(FunctionIdentifier(f.name)))
    val before = bound
    assert(before.forall(_._2.isDefined), s"unbound: ${before.filter(_._2.isEmpty).map(_._1)}")
    helpers.foreach(_(spark))
    bound.zip(before).foreach { case ((name, after), (_, was)) =>
      assert(after.get eq was.get, s"$name was re-registered")
    }
  }
}
