package graft

import org.apache.spark.sql.{AnalysisException, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-15 hardening: the latent contracts VERDICT r14 named — the
  * scrub-rule prefix is literal under regex metacharacters, and the
  * unscaled-sum fast path refuses non-compact decimal inputs loudly
  * at analysis time instead of silently mis-typing/truncating. */
class Wave11Spec extends AnyFunSuite with SharedSparkSession {

  test("placeholderSafeDigitRule: metacharacter prefix is taken literally") {
    // pre-fix, 'E+MAIL' made the lookbehind variable-length →
    // PatternSyntaxException at regexp_replace time; a '.'-bearing
    // prefix compiled but matched too much (silent mis-scrub).
    import spark.implicits._
    val df = Seq((1L, "<E+MAIL_1234> wrote; call 5551234 or <EXMAIL_2345> maybe"))
      .toDF("doc_id", "anon_text")
    val out = operators.TextOps.piiScrub(
        df, "anon_text", "final_text",
        rules = Seq(operators.TextOps.placeholderSafeDigitRule("E+MAIL")))
      .select("final_text", "n_digit_runs").collect().head
    val ft = out.getString(0)
    assert(ft.contains("<E+MAIL_1234>"), s"literal-prefix placeholder scrubbed: $ft")
    // a '.' in a quoted prefix must NOT wildcard-match EXMAIL's number
    assert(ft.contains("<EXMAIL_<NUM>>") && ft.contains("call <NUM>"),
      s"non-placeholder runs must still scrub: $ft")
    assert(out.getInt(1) == 2)
  }

  test("sum_unscaled rejects non-compact DECIMAL(p>18) at analysis time") {
    import spark.implicits._
    val df = Seq("123.45", "67.89").toDF("v")
      .select(col("v").cast("decimal(19,2)").as("d"))
    functions.DecimalFastFunctions.register(spark)
    val ex = intercept[AnalysisException] {
      df.agg(functions.DecimalFastFunctions.sum_unscaled(col("d"), 2)).collect()
    }
    assert(ex.getMessage.contains("unscaled_value") ||
      ex.getMessage.contains("compact"), s"wrong failure: ${ex.getMessage}")
  }

  test("sum_unscaled matches sum() bit-exactly on compact DECIMAL(18,2)") {
    import spark.implicits._
    val df = (1 to 1000).map(i => (i % 7, s"$i.${i % 100}"))
      .toDF("g", "v")
      .select(col("g"), col("v").cast("decimal(18,2)").as("d"))
    functions.DecimalFastFunctions.register(spark)
    val fast = df.groupBy("g")
      .agg(functions.DecimalFastFunctions.sum_unscaled(col("d"), 2).as("s"))
    val ref = df.groupBy("g").agg(sum(col("d")).as("s"))
    assert(fast.schema("s").dataType == ref.schema("s").dataType)
    assert(fast.except(ref).isEmpty && ref.except(fast).isEmpty)
  }

  test("unscaled_of_double equals the cast path on clean 2-decimal doubles") {
    // the contract's whole domain: nearest-doubles to k/100, k any
    // sign and magnitude through money range; plus null propagation.
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val cents = Seq.tabulate(4000)(_ =>
      (rnd.nextLong() % 1000000000L)) ++ // ±1e7 money range
      Seq(0L, 1L, -1L, 99L, -99L, 50L, -50L, 999999999999L, -999999999999L)
    val df = cents.map(k => (k, k / 100.0)).toDF("k", "d")
    functions.DecimalFastFunctions.register(spark)
    val bad = df.select(col("k"), col("d"),
        functions.DecimalFastFunctions.unscaled_of_double(col("d"), 2).as("fast"),
        functions.DecimalFastFunctions
          .unscaled_value(col("d").cast("decimal(18,2)")).as("cast_path"))
      .filter(col("fast") =!= col("cast_path") || col("fast") =!= col("k"))
    assert(bad.isEmpty, s"mismatches: ${bad.collect().take(5).mkString(", ")}")
    // null in → null out, same as the cast path
    val n = Seq[(java.lang.Double, Int)]((null, 1)).toDF("d", "g")
      .select(functions.DecimalFastFunctions.unscaled_of_double(col("d"), 2).as("u"))
      .collect().head
    assert(n.isNullAt(0))
  }

  test("dsum_unscaled_double matches the decimal sum bit-exactly (incl. differences)") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val df = Seq.tabulate(3000) { i =>
      (i % 11, (rnd.nextInt(2000000) - 1000000) / 100.0,
        rnd.nextInt(10000) / 100.0)
    }.toDF("g", "a", "b")
    functions.DecimalFastFunctions.register(spark)
    // q80's shape: a sum over a DIFFERENCE of clean 2-decimal doubles
    val fast = df.groupBy("g").agg(functions.DecimalFastFunctions
      .dsum_unscaled_double(col("a") - col("b")).as("s"))
    val ref = df.groupBy("g")
      .agg(sum((col("a") - col("b")).cast("decimal(18,2)")).cast("double").as("s"))
    assert(fast.except(ref).isEmpty && ref.except(fast).isEmpty)
    // revenue product: price × (1 − disc) in unscaled space
    val fastRev = df.groupBy("g").agg(functions.DecimalFastFunctions
      .sum_unscaled_revenue_double(abs(col("a")), col("b") % 1.0).as("s"))
    val refRev = df.groupBy("g").agg(sum(abs(col("a")).cast("decimal(18,2)") *
      (lit(1).cast("decimal(18,2)") - (col("b") % 1.0).cast("decimal(18,2)"))).as("s"))
    assert(fastRev.schema("s").dataType == refRev.schema("s").dataType,
      s"${fastRev.schema("s").dataType} vs ${refRev.schema("s").dataType}")
    assert(fastRev.except(refRev).isEmpty && refRev.except(fastRev).isEmpty)
  }

  test("sum_unscaled_safe matches the decimal sum with forced spills and merges") {
    import spark.implicits._
    functions.DecimalFastFunctions.register(spark)
    // values near the 2^60 per-row input bound force the 2^61 spill
    // gate every ~2 rows, exercising the decimal spill branch AND the
    // long branch; 8 partitions exercise the merge path's long fold
    val rnd = new scala.util.Random(13)
    // |u| in [1e17, 9e17] (inside DECIMAL(18) capacity), 5/7 positive
    // so every group's running sum drifts across the 2^61 gate
    val big = Seq.tabulate(400) { i =>
      val sign = if (i % 7 < 5) 1L else -1L
      (i % 3, sign * ((rnd.nextLong().abs % 400000000000000000L) + 500000000000000000L))
    }
    val small = Seq.tabulate(400)(i => (i % 3, rnd.nextInt(100000).toLong))
    val df = (big ++ small).toDF("g", "u").repartition(8)
    val fast = df.groupBy("g").agg(functions.DecimalFastFunctions
      .sum_unscaled_safe(col("u"), 38, 2).as("s"))
    val ref = df.groupBy("g")
      .agg(sum(functions.DecimalFastFunctions.make_decimal(col("u"), 18, 2))
        .cast("decimal(38,2)").as("s"))
    assert(fast.schema("s").dataType == ref.schema("s").dataType)
    assert(fast.except(ref).isEmpty && ref.except(fast).isEmpty)
    // empty input → null, like sum; nulls skipped
    val e = Seq[(Int, java.lang.Long)]((1, null)).toDF("g", "u")
      .groupBy("g").agg(functions.DecimalFastFunctions
        .sum_unscaled_safe(col("u"), 28, 2).as("s")).collect().head
    assert(e.isNullAt(1))
    // SQL-registered form resolves and aggregates
    df.createOrReplaceTempView("safe_sum_t")
    val viaSql = spark.sql(
      "SELECT g, sum_unscaled_safe(u, 38, 2) AS s FROM safe_sum_t GROUP BY g")
    assert(viaSql.except(ref).isEmpty && ref.except(viaSql).isEmpty)
  }

  test("dsum_safe_double matches the decimal-path dsum on clean doubles") {
    import spark.implicits._
    functions.DecimalFastFunctions.register(spark)
    val rnd = new scala.util.Random(99)
    val df = Seq.tabulate(5000) { i =>
      (i % 2, (rnd.nextInt(200000000) - 100000000) / 100.0)
    }.toDF("g", "d").repartition(6)
    val fast = df.groupBy("g")
      .agg(functions.DecimalFastFunctions.dsum_safe_double(col("d")).as("s"))
    val ref = df.groupBy("g")
      .agg(sum(col("d").cast("decimal(18,2)")).cast("double").as("s"))
    assert(fast.except(ref).isEmpty && ref.except(fast).isEmpty)
    val fastRev = df.groupBy("g").agg(functions.DecimalFastFunctions
      .sum_revenue_safe_double(abs(col("d")), abs(col("d")) % 1.0).as("s"))
    val refRev = df.groupBy("g").agg(sum(abs(col("d")).cast("decimal(18,2)") *
      (lit(1).cast("decimal(18,2)") - (abs(col("d")) % 1.0).cast("decimal(18,2)"))).as("s"))
    assert(fastRev.schema("s").dataType == refRev.schema("s").dataType)
    assert(fastRev.except(refRev).isEmpty && refRev.except(fastRev).isEmpty)
  }

  test("FastDoubleDecimalSumRule rewrites double-cast sums, conf-gated") {
    import spark.implicits._
    plans.FastDoubleDecimalSumRule.install(spark)
    val rnd = new scala.util.Random(5)
    val df = Seq.tabulate(2000)(i =>
      (i % 4, rnd.nextInt(100000) / 100.0, rnd.nextInt(100) / 100.0))
      .toDF("g", "p", "d").repartition(5)
    df.createOrReplaceTempView("fast_sum_t")

    def planOf(q: org.apache.spark.sql.DataFrame): String =
      q.queryExecution.executedPlan.toString

    // DataFrame form
    val dfSum = df.groupBy("g").agg(sum(col("p").cast("decimal(18,2)")).as("s"))
    assert(planOf(dfSum).contains("sum_unscaled_safe"), planOf(dfSum))
    // SQL-text form (the catalog entries' shape) + revenue product form
    val sqlSum = spark.sql(
      """SELECT g, SUM(CAST(p AS DECIMAL(18,2))) AS s,
        |  SUM(CAST(p AS DECIMAL(18,2)) *
        |      (CAST(1 AS DECIMAL(18,2)) - CAST(d AS DECIMAL(18,2)))) AS rev
        |FROM fast_sum_t GROUP BY g""".stripMargin)
    assert(planOf(sqlSum).count(_ == 's') > 0 &&
      "sum_unscaled_safe".r.findAllIn(planOf(sqlSum)).size >= 2, planOf(sqlSum))

    // results identical to the decimal path (rule off)
    spark.conf.set(plans.FastDoubleDecimalSumRule.ConfKey, "false")
    val refSum = spark.sql(
      """SELECT g, SUM(CAST(p AS DECIMAL(18,2))) AS s,
        |  SUM(CAST(p AS DECIMAL(18,2)) *
        |      (CAST(1 AS DECIMAL(18,2)) - CAST(d AS DECIMAL(18,2)))) AS rev
        |FROM fast_sum_t GROUP BY g""".stripMargin)
    assert(!planOf(refSum).contains("sum_unscaled_safe"), "conf gate ignored")
    spark.conf.set(plans.FastDoubleDecimalSumRule.ConfKey, "true")
    assert(sqlSum.except(refSum).isEmpty && refSum.except(sqlSum).isEmpty)
    assert(sqlSum.schema == refSum.schema,
      s"${sqlSum.schema} vs ${refSum.schema}")

    // distinct sums stay on the decimal path
    val dist = df.groupBy("g").agg(sum_distinct(col("p").cast("decimal(18,2)")).as("s"))
    assert(!planOf(dist).contains("sum_unscaled_safe"), planOf(dist))
  }

  test("unscaled_value carries its overflow contract in DESCRIBE FUNCTION") {
    functions.DecimalFastFunctions.register(spark)
    val desc = spark.sql("DESCRIBE FUNCTION EXTENDED unscaled_value")
      .collect().map(_.getString(0)).mkString("\n")
    assert(desc.contains("OVERFLOW CONTRACT") && desc.contains("2^63"),
      s"contract missing from usage: $desc")
  }
}
