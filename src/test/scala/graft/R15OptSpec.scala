package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-15 optimization pins: the rewrites must be VALUE-identical to
  * the forms they replaced (the oracle checks against DuckDB; these
  * additionally pin equivalence to the old Spark-side forms and the
  * plan shapes the round's wins depend on). */
class R15OptSpec extends AnyFunSuite with SharedSparkSession {

  private val sfDir = "/root/testdata/sf0.001"

  // ---------------------------------------------------------------- //
  // q25 — bucketed two-level exact percentile
  // ---------------------------------------------------------------- //

  test("q25's bucketed order statistic is bit-identical to percentile()") {
    val got = graft.queries.Relational.q25_percentile(spark, sfDir).collect()
    val want = Tables.load(spark, sfDir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(expr("percentile(l_quantity, 0.5)").as("median_qty"),
        expr("percentile(l_quantity, 0.9)").as("p90_qty"),
        expr("percentile(l_extendedprice, 0.5)").as("median_price"))
      .orderBy(col("l_returnflag")).collect()
    assert(got.toSeq == want.toSeq)
  }

  test("bucketed percentile handles ties, negatives and tiny groups exactly") {
    import spark.implicits._
    // adversarial: heavy ties, negatives straddling bucket boundaries,
    // a single-value group, a two-value group
    val data = Seq(
      ("a", -3.5), ("a", -3.5), ("a", -3.5), ("a", 0.0), ("a", 0.0),
      ("a", 2.25), ("a", 128.0), ("a", 128.0), ("a", 129.5), ("a", 1e6),
      ("b", 42.0),
      ("c", -1.0), ("c", 1.0)).toDF("g", "v")
    data.createOrReplaceTempView("r15_pct_probe")
    val got = graft.queries.Relational.exactPercentiles(
        data, "g", Seq((col("v"), "v", 128.0,
          Seq(0.5 -> "p50", 0.9 -> "p90", 0.25 -> "p25"))))
      .orderBy(col("g")).collect()
    val want = spark.sql(
      """SELECT g, percentile(v, 0.5) AS p50, percentile(v, 0.9) AS p90,
        |  percentile(v, 0.25) AS p25
        |FROM r15_pct_probe GROUP BY g ORDER BY g""".stripMargin).collect()
    assert(got.toSeq == want.toSeq)
  }

  test("q25 plans with one scan and no interpreted percentile()") {
    // r15 pinned "no ObjectHashAggregate" against Spark's interpreted
    // boxed-map Percentile. The r16 one-scan form is deliberately a
    // (primitive-map) TypedImperativeAggregate, so the operator class
    // is back — the pin now targets what the rewrites actually banned:
    // the builtin percentile() buffer, and any second scan of lineitem.
    val plan = graft.queries.Relational.q25_percentile(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("percentile("),
      "the interpreted builtin percentile buffer must be gone")
    assert(plan.contains("exact_pcts"), "the one-pass aggregate must plan")
    val scans = "Scan parquet".r.findAllIn(plan).length
    assert(scans == 1, s"q25 must scan lineitem exactly once, saw $scans")
  }

  // ---------------------------------------------------------------- //
  // unigramLmScores — shared tf subtree at tf granularity
  // ---------------------------------------------------------------- //

  test("unigramLmScores matches the per-instance reference formula exactly") {
    import spark.implicits._
    val docs = Seq(
      (1L, Seq("a", "b", "a", "c")),
      (2L, Seq("a", "a", "a")),
      (3L, Seq("b", "z")),
      (4L, Seq("q", "q", "z", "b", "b"))).toDF("doc_id", "tok")
    val got = graft.operators.TextOps
      .unigramLmScores(docs, "doc_id", "tok", rareDocFreq = 2)
      .orderBy($"doc_id")
      .as[(Long, Long, Double, Double)].collect().toSeq
    // reference: cnt/df per token computed by hand —
    // a: cnt 5 df 2; b: cnt 4 df 3; c: cnt 1 df 1; z: cnt 2 df 2; q: cnt 2 df 1
    // N = 14; rare (df<2): c, q
    def lik(terms: Seq[Long], n: Long) =
      terms.sum.toDouble / n / 14.0
    val want = Seq(
      (1L, 4L, lik(Seq(5, 4, 5, 1), 4), 1.0 / 4),   // a b a c → rare: c
      (2L, 3L, lik(Seq(5, 5, 5), 3), 0.0),
      (3L, 2L, lik(Seq(4, 2), 2), 0.0),
      (4L, 5L, lik(Seq(2, 2, 2, 4, 4), 5), 2.0 / 5)) // q q z b b → rare: q q
    assert(got == want)
  }

  test("p30 tokenizes once: the tf exchange is REUSED by both consumers") {
    val df = graft.queries.Pipeline4.p30_unigram_lm(spark, sfDir)
    // under AQE, exchange reuse only shows in the FINAL plan — execute
    df.queryExecution.toRdd.foreach(_ => ())
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ReusedExchange") || plan.contains("reused"),
      s"LM and scoring branches must share one (token, doc) aggregate:\n" +
        plan.take(1200))
  }

  // ---------------------------------------------------------------- //
  // single-scan plan pins for the wave-1 rewrites
  // ---------------------------------------------------------------- //

  private def scanCount(plan: String, table: String): Int =
    plan.linesIterator.count(l =>
      l.contains("Scan parquet") && l.contains(s"$table.parquet"))

  test("q55 reads lineitem once (was three scans + distinct Expand)") {
    val plan = graft.queries.Tpcds2.q55_frequent_parts(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(scanCount(plan, "lineitem") == 1, plan.take(800))
    assert(!plan.contains("Expand"), "distinct-month mask needs no Expand")
  }

  test("q51 reads lineitem once (was two scans, three exchanges)") {
    val plan = graft.queries.Tpcds2.q51_multi_supplier(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(scanCount(plan, "lineitem") == 1, plan.take(800))
  }

  test("q76 reads lineitem once (was a duplicated per-year subtree)") {
    val plan = graft.queries.Tpcds5.q76_two_year_wide(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(scanCount(plan, "lineitem") == 1, plan.take(800))
  }

  test("q97 argmax is one aggregate: no join-back, two scans total") {
    val plan = graft.queries.Tpcds8.q97_argmax_joinback(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(scanCount(plan, "lineitem") == 1, plan.take(800))
    assert(scanCount(plan, "part") == 1, plan.take(800))
  }

  test("q31's moment sums are all-primitive (no decimal sum in the plan)") {
    val plan = graft.queries.Relational2.q31_stats_agg(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("sum_unscaled_safe"),
      "moments must ride the spill-guarded long accumulator")
  }
}
