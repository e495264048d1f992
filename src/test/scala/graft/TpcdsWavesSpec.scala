package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape assertions for the TPC-DS wave 5-8 entries: correctness
  * is oracle-gated by the driver battery; these pin the physical-plan
  * properties that matter at scale (broadcasts where a side is small,
  * no whole-relation window sorts where an aggregate join-back is the
  * point, single-pass filtered aggregation).
  */
class TpcdsWavesSpec extends AnyFunSuite with SharedSparkSession {

  private val dir = "/root/testdata/sf0.001"

  test("q97 argmax join-back broadcasts the per-brand max side, no Window") {
    val plan = graft.queries.Tpcds8.q97_argmax_joinback(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"the 25-row per-brand max relation must broadcast:\n$plan")
    assert(!plan.contains("Window"),
      s"the join-back formulation must not fall back to a window sort:\n$plan")
  }

  test("q84 pivot-date comparison is a single-pass filtered aggregate") {
    val plan = graft.queries.Tpcds6.q84_pivot_date(spark, dir)
      .queryExecution.executedPlan.toString
    // one scan of lineitem — the before/after split must be CASE
    // aggregation, not a self-join of two filtered scans
    val scans = "Scan parquet".r.findAllIn(plan).size
    assert(scans == 2, // lineitem + part dimension
      s"expected exactly lineitem+part scans (no second lineitem pass):\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"the part dimension must broadcast:\n$plan")
  }

  test("q77 scalar grid cross-joins single-row aggregates (no shuffle joins)") {
    val plan = graft.queries.Tpcds5.q77_scalar_grid(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin"),
      s"single-row scalar cells must never sort-merge join:\n$plan")
  }

  test("q71 growth comparison aggregates one orders scan (no channel self-join)") {
    val plan = graft.queries.Tpcds5.q71_growth_compare(spark, dir)
      .queryExecution.executedPlan.toString
    val scans = "Scan parquet".r.findAllIn(plan).size
    assert(scans == 2, // orders + customer
      s"expected one orders scan + customer dim (four filtered sums, not four scans):\n$plan")
  }

  test("wave 5-8 entries produce rows at sf0.001 (smoke, non-empty where expected)") {
    val names = Seq("q74_cov", "q85_union_reagg", "q92_best_worst",
      "q94_weekly_distinct", "q98_conditional_distinct", "q99_rank_ties")
    names.foreach { n =>
      val df = SparkEntry.queries(n)(spark, dir)
      assert(df.count() > 0, s"$n returned no rows at sf0.001")
    }
  }

  test("q102 revenue share is one windowed pass, not a type-total self-join") {
    val plan = graft.queries.Tpcds9.q102_revenue_share(spark, dir)
      .queryExecution.executedPlan.toString
    val scans = "Scan parquet".r.findAllIn(plan).size
    assert(scans == 2, // lineitem + part only — the type total comes
      // from a window over the per-part aggregate, not a second scan
      s"expected lineitem+part scans only:\n$plan")
    assert(plan.contains("Window"), s"expected a window partition sum:\n$plan")
  }

  test("q105 EXISTS OR-grid plans as one semi-join against a distinct brand set") {
    val plan = graft.queries.Tpcds9.q105_exists_or_grid(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("LeftSemi"), s"expected a semi-join gate:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"the OR grid must stay inside the semi-join build side:\n$plan")
  }

  test("q108 double gate turns both IN-subqueries into broadcast semi-joins") {
    val plan = graft.queries.Tpcds9.q108_double_gate(spark, dir)
      .queryExecution.executedPlan.toString
    val semis = "LeftSemi".r.findAllIn(plan).size
    assert(semis >= 2, s"both gates should be semi-joins:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"the nation-list and rich-customer sides are small — broadcast:\n$plan")
  }

  test("q100 ratio chain shuffles on (custkey, partkey), dims broadcast") {
    val plan = graft.queries.Tpcds9.q100_ratio_chain(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"part (and the order key map at this sf) must broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"the sold→returned chain must join on keys:\n$plan")
  }

  test("wave 9 entries produce rows at sf0.001 (smoke)") {
    val names = Seq("q100_ratio_chain", "q101_channel_pnl",
      "q102_revenue_share", "q104_cross_nation", "q105_exists_or_grid",
      "q107_self_threshold", "q108_double_gate", "q109_next_month_segments")
    names.foreach { n =>
      val df = SparkEntry.queries(n)(spark, dir)
      assert(df.count() > 0, s"$n returned no rows at sf0.001")
    }
  }
}
