package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Wave-5 entries — independent brute-force recomputes and plan shape
  * (the oracle gate checks exact values; these pin structure and the
  * algorithmic intent against a from-scratch Scala reference). */
class Pipeline5Spec extends AnyFunSuite with SharedSparkSession {

  private val sfDir = "/root/testdata/sf0.001"

  private def docTokens: Map[Long, Array[String]] =
    Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1).trim.split("\\s+"))
      .toMap

  test("p32 matches a sequential first-wins sweep over the whole corpus") {
    val toks = docTokens
    // sequential reference: walk documents in (doc_id, seg_i) order,
    // keep the first instance of every segment, count the losers
    val seen = scala.collection.mutable.Set[String]()
    val removed = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
    toks.toSeq.sortBy(_._1).foreach { case (id, tk) =>
      tk.grouped(3).filter(_.length == 3).foreach { seg =>
        val key = seg.mkString(" ")
        if (seen.contains(key)) removed(id) += 1 else seen += key
      }
    }
    val got = graft.queries.Pipeline5.p32_line_dedup(spark, sfDir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_removed")).toMap
    assert(got.keySet == toks.filter(_._2.length >= 3).keySet)
    got.foreach { case (id, n) => assert(n == removed(id), s"doc $id") }
  }

  test("p33 buckets are consistent with the p30 scores they derive from") {
    val scores = graft.queries.Pipeline4.p30_unigram_lm(spark, sfDir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("mean_lik")).toMap
    val buckets = graft.queries.Pipeline5.p33_ppl_buckets(spark, sfDir).collect()
    assert(buckets.nonEmpty)
    buckets.foreach { r =>
      val (id, b) = (r.getAs[Long]("doc_id"), r.getAs[String]("bucket"))
      val ml = scores(id)
      // both sides round to 9 digits for display; compare against the
      // rounded score with a strict margin away from the cutoffs —
      // boundary docs (none at this sf) would need full precision
      val expect =
        if (ml >= 0.03332) "head" else if (ml >= 0.03327) "middle" else "tail"
      if (math.abs(ml - 0.03332) > 1e-9 && math.abs(ml - 0.03327) > 1e-9)
        assert(b == expect, s"doc $id score $ml")
    }
    assert(buckets.map(_.getAs[String]("bucket")).distinct.length >= 2,
      "cutoffs must split this corpus into at least two buckets")
  }

  test("p34 chunks tile every document with stride-48 starts and full coverage") {
    val toks = docTokens
    val rows = graft.queries.Pipeline5.p34_chunk_overlap(spark, sfDir).collect()
    val byDoc = rows.groupBy(_.getAs[Long]("doc_id"))
    assert(byDoc.keySet == toks.filter(_._2.exists(_.nonEmpty)).keySet)
    byDoc.foreach { case (id, cs) =>
      val n = toks(id).length
      val sorted = cs.sortBy(_.getAs[Int]("chunk_i"))
      sorted.zipWithIndex.foreach { case (c, i) =>
        assert(c.getAs[Int]("chunk_i") == i && c.getAs[Int]("start_tok") == i * 48)
      }
      val last = sorted.last
      assert(last.getAs[Int]("start_tok") + last.getAs[Long]("n_tok") == n,
        s"doc $id: chunks must reach the last token")
      sorted.dropRight(1).foreach(c => assert(c.getAs[Long]("n_tok") == 64))
    }
  }

  test("p35 equals a brute-force pair count over the word-frequency dict") {
    val counts = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
    docTokens.values.foreach(_.foreach { w =>
      if (w.length >= 2)
        (0 until w.length - 1).foreach(i => counts(w.substring(i, i + 2)) += 1)
    })
    val expect = counts.toSeq.sortBy { case (p, n) => (-n, p) }.take(20)
    val got = graft.queries.Pipeline5.p35_bpe_pairs(spark, sfDir).collect()
      .map(r => (r.getAs[String]("pair"), r.getAs[Long]("n"))).toSeq
    assert(got == expect)
  }

  test("p36 counts blocked instances case-insensitively and is shuffle-free") {
    val df = graft.queries.Pipeline5.p36_blocklist(spark, sfDir)
    val got = df.collect().map(r =>
      r.getAs[Long]("doc_id") -> r.getAs[Long]("n_blocked")).toMap
    val bl = Set("slow", "stale", "spill")
    docTokens.foreach { case (id, tk) =>
      assert(got(id) == tk.count(t => bl.contains(t.toLowerCase)), s"doc $id")
    }
    // map-side: the only exchange allowed is the terminal ORDER BY's
    // range partitioning (plus the spread guard's round-robin)
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(!"Exchange hashpartitioning".r.findAllIn(plan).hasNext,
      s"blocklist gate must not hash-shuffle:\n$plan")
  }
}
