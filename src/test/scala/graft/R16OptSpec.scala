package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-16 optimization pins: every rewrite must be VALUE-identical
  * to the form it replaced (the oracle checks against DuckDB; these
  * additionally pin equivalence against the old Spark-side forms and
  * the plan shapes the round's wins depend on). */
class R16OptSpec extends AnyFunSuite with SharedSparkSession {

  private val sfDir = "/root/testdata/sf0.001"

  // ---------------------------------------------------------------- //
  // q25 — one-scan exact_pcts aggregate
  // ---------------------------------------------------------------- //

  test("exact_pcts is bit-identical to percentile() on adversarial frames") {
    import spark.implicits._
    graft.functions.ExactPercentilesFunctions.register(spark)
    import graft.functions.ExactPercentilesFunctions.exact_pcts
    // ties, negatives, a -0.0/0.0 pair, integral target indices
    // (4 rows → p25 lands exactly on index 1), single- and two-value
    // groups, nulls interleaved, and a large-magnitude spread
    val data = Seq(
      ("a", Some(-3.5)), ("a", Some(-3.5)), ("a", Some(-3.5)), ("a", Some(0.0)),
      ("a", Some(-0.0)), ("a", Some(2.25)), ("a", Some(128.0)), ("a", Some(128.0)),
      ("a", Some(129.5)), ("a", Some(1e6)),
      ("b", Some(42.0)), ("b", None),
      ("c", Some(-1.0)), ("c", Some(1.0)),
      ("d", Some(1.0)), ("d", Some(2.0)), ("d", Some(3.0)), ("d", Some(4.0)),
      ("e", None)).toDF("g", "v")
    data.createOrReplaceTempView("r16_pct_probe")
    val got = data.groupBy(col("g"))
      .agg(exact_pcts(col("v"), 0.5, 0.9, 0.25).as("p"))
      .select(col("g"), element_at(col("p"), 1).as("p50"),
        element_at(col("p"), 2).as("p90"), element_at(col("p"), 3).as("p25"))
      .orderBy(col("g")).collect()
    val want = spark.sql(
      """SELECT g, percentile(v, 0.5) AS p50, percentile(v, 0.9) AS p90,
        |  percentile(v, 0.25) AS p25
        |FROM r16_pct_probe GROUP BY g ORDER BY g""".stripMargin).collect()
    assert(got.toSeq == want.toSeq)
  }

  test("exact_pcts survives forced partial/merge paths (many partitions)") {
    import spark.implicits._
    graft.functions.ExactPercentilesFunctions.register(spark)
    import graft.functions.ExactPercentilesFunctions.exact_pcts
    val data = (1 to 4000).map(i => ("g" + (i % 3), (i % 97).toDouble))
      .toDF("g", "v").repartition(16)
    data.createOrReplaceTempView("r16_pct_wide")
    val got = data.groupBy(col("g"))
      .agg(exact_pcts(col("v"), 0.5, 0.9).as("p"))
      .select(col("g"), element_at(col("p"), 1).as("p50"),
        element_at(col("p"), 2).as("p90"))
      .orderBy(col("g")).collect()
    val want = spark.sql(
      """SELECT g, percentile(v, 0.5) AS p50, percentile(v, 0.9) AS p90
        |FROM r16_pct_wide GROUP BY g ORDER BY g""".stripMargin).collect()
    assert(got.toSeq == want.toSeq)
  }

  // ---------------------------------------------------------------- //
  // p52 — skew-safe CDC dedup (no fp-partitioned window)
  // ---------------------------------------------------------------- //

  test("p52 aggregate form matches the r15 window form exactly") {
    val got = graft.queries.Pipeline9.p52_cdc_chunks(spark, sfDir).collect()
    // the r15 form, inline: corpus-global winner per fp via a
    // fp-partitioned window, per-occurrence is_dup, per-doc sums
    val docs = graft.operators.Scale.spread(
      Tables.load(spark, sfDir, "documents")
        .filter(length(trim(col("text"))) > 0)
        .select(col("doc_id"), split(trim(col("text")), "\\s+").as("tok")))
    val chunks = graft.operators.TextOps.cdcChunks(docs, "doc_id", "tok",
      w = 8, mask = 16)
    val wFp = org.apache.spark.sql.expressions.Window.partitionBy(col("c_fp"))
    val want = chunks
      .withColumn("first",
        min(struct(col("doc_id").as("d"), col("idx").as("i"))).over(wFp))
      .select(col("doc_id"), col("c_len"),
        when(col("doc_id") === col("first.d") && col("idx") === col("first.i"), 0L)
          .otherwise(1L).as("is_dup"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(col("is_dup")).as("n_dup_chunks"),
        sum(when(col("is_dup") === 1, col("c_len")).otherwise(0L)).as("dup_tok"))
      .orderBy(col("doc_id")).collect()
    assert(got.map(_.toSeq.map(String.valueOf)).toSeq ==
      want.map(_.toSeq.map(String.valueOf)).toSeq)
  }

  test("p52 plans one chunking pass, no window, map-side fp partials") {
    val df = graft.queries.Pipeline9.p52_cdc_chunks(spark, sfDir)
    df.queryExecution.toRdd.foreach(_ => ())
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      "the fp-partitioned occurrence-list window must be gone")
    // AQE's plan string keeps the duplicated subtree in the initial
    // plan section, so scans can't be counted from the text — the
    // runtime reuse is what matters: the second consumer of the
    // (doc_id, c_fp) aggregate must read a ReusedExchange, never
    // re-run the scan→tokenize→CDC chain
    assert(plan.contains("ReusedExchange"),
      "the (doc_id, c_fp) aggregate exchange must be reused by both consumers")
    // the winner aggregate must partial-aggregate before its c_fp
    // exchange: a partial_min(first) on the map side of the plan
    assert(plan.contains("partial_min") || plan.contains("partial min"),
      "winner aggregate must fold map-side partials (hot-fp safety)")
  }

  // ---------------------------------------------------------------- //
  // p26 — 128-bit shingle fingerprints
  // ---------------------------------------------------------------- //

  test("p26 matches a string-shingle reference exactly (no collisions)") {
    val got = graft.queries.Pipeline3.p26_ngram_dup_rate(spark, sfDir).collect()
    // reference with REAL shingle strings (the oracle's identity)
    val toks = split(trim(col("text")), "\\s+")
    val n = 5
    val sh = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), toks.as("tok"))
      .filter(size(col("tok")) >= n)
      .select(col("doc_id"), explode(array_distinct(
        transform(sequence(lit(0), size(col("tok")) - n),
          i => concat_ws(" ", (0 until n).map(o => col("tok")(i + o)): _*)))).as("sh"))
    val want = sh.withColumn("n_docs",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy(col("sh"))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("n_docs") >= 2, 1L).otherwise(0L)).as("n_duplicated"))
      .withColumn("dup_frac",
        col("n_duplicated").cast("double") / col("n_shingles").cast("double"))
      .orderBy(col("doc_id")).collect()
    assert(got.map(_.toSeq.map(String.valueOf)).toSeq ==
      want.map(_.toSeq.map(String.valueOf)).toSeq)
  }

  test("p26 exchanges carry the 128-bit fingerprint pair") {
    val plan = graft.queries.Pipeline3.p26_ngram_dup_rate(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("sh2"), "second seeded fingerprint must survive planning")
  }

  // ---------------------------------------------------------------- //
  // FastDoubleDecimalSumRule — the opt-in contract BOUNDARY, pinned
  // (VERDICT r15 #8): where the rule diverges from the built-in sum is
  // exactly where its documented clean-decimal contract is violated,
  // and nowhere else. (The third documented edge — a beyond-DECIMAL(38)
  // total wrapping where the built-in nulls — is unreachable by test:
  // with |per-row term| < 2^60 it needs ~10^19 rows; the bound
  // argument lives in UnscaledDecimalSum's scaladoc.)
  // ---------------------------------------------------------------- //

  test("FastDoubleDecimalSumRule diverges exactly at the contract boundary") {
    import spark.implicits._
    graft.plans.FastDoubleDecimalSumRule.install(spark)
    val key = graft.plans.FastDoubleDecimalSumRule.ConfKey
    def total(on: Boolean, vs: Seq[Double], scale: Int): java.math.BigDecimal = {
      spark.conf.set(key, on.toString)
      try {
        val df = vs.toDF("v")
          .agg(sum(col("v").cast(s"decimal(18,$scale)")).as("s"))
        val plan = df.queryExecution.executedPlan.toString
        assert(plan.contains("sum_unscaled_safe") == on,
          s"rule fired=${!on} unexpectedly:\n$plan")
        df.head.getDecimal(0)
      } finally spark.conf.set(key, "false")
    }
    // IN contract (clean 2-decimal money values, negatives included):
    // identical totals
    val clean = Seq(1.01, -2.37, 0.5, 128.0, -0.25, 99999.99)
    assert(total(on = true, clean, 2) == total(on = false, clean, 2))
    // OUT of contract #1 — negative exact half beyond the scale:
    // -2.5 at scale 0. Floor(x·10^s + 0.5) rounds half UP toward +inf
    // (-2), the built-in Cast rounds HALF_UP away from zero (-3).
    assert(total(on = true, Seq(-2.5), 0).longValueExact == -2L)
    assert(total(on = false, Seq(-2.5), 0).longValueExact == -3L)
    // OUT of contract #2 — dirty double: the literal 1.005 is really
    // 1.00499999999999989…, so the rule's scaled-floor sees 100.4999…
    // (→ 1.00) while the built-in casts through Double.toString's
    // shortest representation "1.005" and HALF_UPs to 1.01.
    assert(total(on = true, Seq(1.005), 2).toPlainString == "1.00")
    assert(total(on = false, Seq(1.005), 2).toPlainString == "1.01")
  }
}
