package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Wave-9 composition entries: leakage-safe splitting (p48) and
  * quality-aware canonical selection (p49) — the semantic properties
  * plus the plan shapes that keep the corpus pass broadcast-only. */
class Wave9Spec extends AnyFunSuite with SharedSparkSession {

  private val dir = "/root/testdata/sf0.001"

  test("p48: no duplicate cluster ever spans two splits (the leakage property)") {
    val out = queries.Pipeline9.p48_leak_split(spark, dir)
    val violating = out.groupBy(col("group_id"))
      .agg(countDistinct(col("split")).as("n_splits"))
      .filter(col("n_splits") > 1)
    assert(violating.count() == 0,
      "members of one dup cluster were assigned to different splits")
    // every document is assigned exactly once
    val docs = Tables.load(spark, dir, "documents").count()
    assert(out.count() == docs)
    assert(out.select("doc_id").distinct().count() == docs)
    // and the split is genuinely cluster-keyed: a clustered doc's
    // bucket comes from its cluster id, not its own id
    val clustered = out.filter(col("group_id") =!= col("doc_id"))
    if (clustered.count() > 0) {
      val splitOfGroup = queries.Pipeline9.p48_leak_split(spark, dir)
        .filter(col("group_id") =!= col("doc_id"))
        .join(queries.Pipeline9.p48_leak_split(spark, dir)
            .filter(col("group_id") === col("doc_id"))
            .select(col("doc_id").as("group_id"), col("split").as("root_split")),
          "group_id")
      assert(splitOfGroup.filter(col("split") =!= col("root_split")).count() == 0,
        "a cluster member's split differs from its cluster root's split")
    }
  }

  test("p49: canonical member is the longest, ties to the smaller doc id") {
    val out = queries.Pipeline9.p49_quality_canonical(spark, dir).collect()
    val members = queries.PipelineOps.p13_dup_clusters(spark, dir)
      .select(col("doc_id"), col("cluster_id"))
      .join(Tables.load(spark, dir, "documents").select(col("doc_id"), col("n_chars")),
        "doc_id")
      .collect().map(r => (r.getLong(1), r.getLong(0), r.getLong(2)))
      .groupBy(_._1)
    out.foreach { r =>
      val (cid, n, keep, chars) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      val mem = members(cid)
      assert(n == mem.length)
      val best = mem.maxBy { case (_, id, c) => (c, -id) }
      assert(keep == best._2 && chars == best._3,
        s"cluster $cid kept ($keep,$chars), expected (${best._2},${best._3})")
    }
    assert(out.nonEmpty)
  }

  test("p50: attribution matches a brute-force shingle-overlap recount") {
    val d01 = "/root/testdata/sf0.01" // sf0.001 has no contaminated eval doc
    val out = queries.Pipeline9.p50_contamination_attribution(spark, d01).collect()
    assert(out.nonEmpty)
    val docs = Tables.load(spark, d01, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1).trim.split("\\s+").toSeq))
    def shingleSet(tok: Seq[String]): Set[String] =
      if (tok.length < 5) Set.empty
      else tok.sliding(5).map(_.mkString(" ")).toSet
    val ev = docs.filter(_._1 % 97 == 0).map { case (id, t) => (id, shingleSet(t)) }
    val tr = docs.filter(_._1 % 97 != 0).map { case (id, t) => (id, shingleSet(t)) }
    val expected = ev.flatMap { case (eid, es) =>
      val hits = tr.map { case (tid, ts) => (tid, (es intersect ts).size) }
        .filter(_._2 > 0)
      if (hits.isEmpty) None
      else {
        val best = hits.maxBy { case (tid, n) => (n, -tid) }
        Some((eid, best._1, best._2.toLong, hits.length.toLong))
      }
    }.sortBy(_._1).toSeq
    val got = out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == expected, s"got=$got expected=$expected")
  }

  test("p48 plan: the corpus-side assignment join is broadcast, not shuffled") {
    val plan = queries.Pipeline9.p48_leak_split(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"cluster relation should broadcast:\n$plan")
  }

  test("p51: spans match a brute-force window-merge recount") {
    val d01 = "/root/testdata/sf0.01"
    val w = 15
    val out = queries.Pipeline9.p51_span_contamination(spark, d01).collect()
    assert(out.nonEmpty)
    val docs = Tables.load(spark, d01, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1).trim))
      .filter(_._2.nonEmpty)
      .map { case (id, t) => (id, t.split("\\s+").toSeq) }
    def windows(tok: Seq[String]): Seq[String] =
      if (tok.length < w) Seq.empty else tok.sliding(w).map(_.mkString(" ")).toSeq
    val trainOwner = scala.collection.mutable.Map.empty[String, Long]
    for ((id, t) <- docs if id % 10 != 0; s <- windows(t))
      trainOwner.updateWith(s)(o => Some(o.fold(id)(math.min(_, id))))
    val expected = docs.filter(_._1 % 10 == 0).flatMap { case (eid, t) =>
      val leaked = windows(t).zipWithIndex.collect {
        case (s, i) if trainOwner.contains(s) => (i + 1L, trainOwner(s))
      }
      // merge runs of starts within w into maximal spans
      val spans = scala.collection.mutable.ListBuffer.empty[(Long, Long, Long, Long, Long, Long)]
      var cur = List.empty[(Long, Long)]
      def flush(): Unit = if (cur.nonEmpty) {
        val starts = cur.reverse
        spans += ((eid, starts.head._1, starts.last._1 + w - 1,
          starts.last._1 + w - 1 - starts.head._1 + 1,
          starts.length.toLong, starts.map(_._2).min))
        cur = Nil
      }
      for ((s, src) <- leaked) {
        if (cur.nonEmpty && s > cur.head._1 + w) flush()
        cur = (s, src) :: cur
      }
      flush()
      spans.toSeq
    }.sortBy(s => (s._1, s._2)).toSeq
    val got = out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    assert(got == expected, s"got=$got expected=$expected")
  }

  test("p52/cdcChunks: chunks re-align across an insertion (the CDC property)") {
    import spark.implicits._
    // doc A = 200 tokens; doc B = the same stream with one token
    // INSERTED at the front. Fixed-window chunking would misalign
    // every downstream chunk; content-defined boundaries re-sync after
    // the first cut, so A and B must share chunk fingerprints.
    val base = (1 to 200).map(i => s"tok$i")
    val df = Seq((1L, base), (2L, "INS" +: base)).toDF("doc_id", "tok")
    val ch = graft.operators.TextOps.cdcChunks(df, "doc_id", "tok").collect()
    val a = ch.filter(_.getLong(0) == 1L).map(_.getString(3)).toSet
    val b = ch.filter(_.getLong(0) == 2L).map(_.getString(3)).toSet
    assert((a intersect b).nonEmpty,
      s"no shared chunk after a front insertion — boundaries are not content-defined (a=$a b=$b)")
    // and the chunks tile each document exactly
    val lens = ch.groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(2)).sum).toMap
    assert(lens == Map(1L -> 200L, 2L -> 201L), s"chunks must tile the doc: $lens")
    // short doc = one whole-doc chunk
    val one = graft.operators.TextOps.cdcChunks(
      Seq((9L, Seq("a", "b"))).toDF("doc_id", "tok"), "doc_id", "tok").collect()
    assert(one.length == 1 && one.head.getLong(2) == 2L)
  }

  test("p51 plan: eval relation broadcasts, training corpus never hash-exchanges wide") {
    val plan = queries.Pipeline9.p51_span_contamination(spark, "/root/testdata/sf0.01")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"eval fp relation should broadcast against the training pass:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"no unkeyed pairing:\n$plan")
  }
}
