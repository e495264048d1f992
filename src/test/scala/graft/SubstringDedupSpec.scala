package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TextOps

class SubstringDedupSpec extends AnyFunSuite with SharedSparkSession {

  private def run(docs: Seq[(Long, String)], w: Int): Map[Long, (Long, Long, Seq[String])] = {
    import spark.implicits._
    TextOps.dedupSubstringsGlobal(docs.toDF("doc_id", "text"), "doc_id", "text", w)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getSeq[String](3))))
      .toMap
  }

  test("first corpus occurrence kept, later cross-doc repeats removed") {
    val span = (1 to 4).map(i => s"s$i").mkString(" ") // 4-token shared span
    val got = run(Seq(
      1L -> s"a b $span c d",
      2L -> s"x $span y z",
      3L -> "p q r s t"), w = 4)
    // doc 1 holds the first (smallest doc_id, start) occurrence: intact
    assert(got(1L) == ((8L, 0L, Seq("a", "b", "s1", "s2", "s3", "s4", "c", "d"))))
    // doc 2 loses exactly the 4 covered tokens
    assert(got(2L) == ((7L, 4L, Seq("x", "y", "z"))))
    assert(got(3L) == ((5L, 0L, Seq("p", "q", "r", "s", "t"))))
  }

  test("within-doc run: overlapping identical windows trim to one window's worth") {
    // 'a' x 8 with w=3: every start 1..6 hashes identically; start 1 is
    // kept, starts 2..6 are removed covering tokens 2..8
    val got = run(Seq(1L -> ("a " * 8).trim), w = 3)
    assert(got(1L) == ((8L, 7L, Seq("a"))))
  }

  test("docs shorter than w never removed; a doc can lose every token") {
    val span = (1 to 3).map(i => s"t$i").mkString(" ")
    val got = run(Seq(
      1L -> s"$span tail",
      2L -> span, // = entirely the repeated span, later occurrence
      3L -> "x y"), w = 3)
    assert(got(1L)._2 == 0L)
    assert(got(2L) == ((3L, 3L, Seq.empty[String])))
    assert(got(3L) == ((2L, 0L, Seq("x", "y"))))
  }

  test("overlapping removes from DIFFERENT spans merge without double-removal") {
    // doc 3 contains two overlapping later-occurrence spans: u1..u4
    // (first in doc 1) and u3..u6 (first in doc 2); union covers u1..u6
    val got = run(Seq(
      1L -> "u1 u2 u3 u4 pad1 pad2",
      2L -> "q1 u3 u4 u5 u6 pad3",
      3L -> "h1 u1 u2 u3 u4 u5 u6 h2"), w = 4)
    assert(got(3L) == ((8L, 6L, Seq("h1", "h2"))))
  }

  test("remove_spans kernel edges: empty starts, full coverage, tail windows") {
    import graft.functions.SubstringDedupFunctions._
    import spark.implicits._
    register(spark)
    val df = Seq((Seq("a", "b", "c", "d"), Seq.empty[Long]),
      (Seq("a", "b", "c", "d"), Seq(1L, 3L)),
      (Seq("a", "b", "c", "d"), Seq(3L))).toDF("tok", "starts")
    val got = df.select(remove_spans($"tok", $"starts", 2)).collect()
      .map(_.getSeq[String](0))
    assert(got(0) == Seq("a", "b", "c", "d"))
    assert(got(1) == Seq.empty) // [1,3) and [3,5) cover 1..4
    assert(got(2) == Seq("a", "b")) // [3,5) covers c, d
  }

  test("p46 plan: partial fp aggregate map-side, no cartesian/window, no string explode") {
    val df = queries.Pipeline8.p46_substring_dedup(spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan.toString
    // winner resolution folds map-side before the fp exchange
    assert(plan.contains("partial_count") || plan.contains("partial_min"),
      s"fp winner aggregate must have a map-side partial:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"substring dedup must never pair rows without a key:\n$plan")
    assert(!plan.contains("Window"),
      s"winner resolution must be an aggregate, not a per-fp window sort:\n$plan")
    // the exploded relation is longs from shingle_hashes — the plan
    // must not rebuild shingle strings row-per-window
    assert(!plan.contains("concat_ws"),
      s"no per-window string materialization:\n$plan")
  }
}
