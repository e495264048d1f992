package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** p29 semantic dedup + p30 unigram-LM scoring — invariants and plan
  * shape (the oracle gate checks exact values; these pin structure). */
class Pipeline4Spec extends AnyFunSuite with SharedSparkSession {

  private val sfDir = "/root/testdata/sf0.001"

  // ---------------------------------------------------------------- //
  // p29 — SemDeDup-style cluster-blocked embedding dedup
  // ---------------------------------------------------------------- //

  test("p29 keeps the lowest id of every similar group and stays cluster-local") {
    import spark.implicits._
    graft.functions.VectorFunctions.register(spark)
    import graft.functions.VectorFunctions.vec_cosine
    val out = graft.queries.Pipeline4.p29_semantic_dedup(spark, sfDir)
      .select($"vec_id", $"cid", $"dup_of").as[(Long, Long, Long)].collect()
    assert(out.nonEmpty, "sf0.001 corpus must contain semantic duplicates")
    assert(out.forall { case (v, _, d) => d < v },
      "a duplicate's representative must be a LOWER id")
    // independent recompute: brute-force within-cluster pairs at the
    // same threshold must flag exactly the same duplicate set
    val emb = Tables.load(spark, sfDir, "embeddings")
      .select($"vec_id", $"embedding")
    val asg = graft.operators.Kmeans
      .trainAssign(emb, "vec_id", "embedding", k = 8, iters = 2)
      .select($"vec_id", $"cid")
    val e = emb.join(asg, "vec_id")
    val expect = e.as("a").join(e.as("b"),
        col("a.cid") === col("b.cid") && col("a.vec_id") < col("b.vec_id"))
      .filter(vec_cosine(col("a.embedding"), col("b.embedding")) >= 0.35)
      .select(col("b.vec_id")).distinct().as[Long].collect().toSet
    assert(out.map(_._1).toSet == expect)
  }

  test("p29 pair join is keyed on the cluster id — no cartesian, one shared exchange") {
    val df = graft.queries.Pipeline4.p29_semantic_dedup(spark, sfDir)
    df.queryExecution.toRdd.foreach(_ => ()) // let AQE finalize reuse
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      "cluster-local pair generation must join on cid, not cross-join")
    assert(plan.contains("ReusedExchange") || plan.contains("TableCacheQueryStage"),
      "both self-join sides must reuse ONE (cid, vector, norm) exchange")
  }

  // ---------------------------------------------------------------- //
  // p30 — corpus-trained unigram LM scoring
  // ---------------------------------------------------------------- //

  test("p30 scores every document with bounded rates and exact token totals") {
    import spark.implicits._
    val docs = Tables.load(spark, sfDir, "documents")
    val out = graft.queries.Pipeline4.p30_unigram_lm(spark, sfDir)
    assert(out.count() == docs.count(), "every document gets a score")
    val bad = out.filter($"rare_rate" < 0 || $"rare_rate" > 1 ||
      $"mean_lik" <= 0 || $"mean_lik" > 1).count()
    assert(bad == 0, "mean likelihood in (0,1], rare rate in [0,1]")
    // n_tokens must agree with an independent whitespace tokenization
    val expect = docs.select(size(split(trim($"text"), "\\s+")).cast("long"))
      .as[Long].collect().sum
    val got = out.agg(sum($"n_tokens")).as[Long].head()
    assert(got == expect)
  }

  // ---------------------------------------------------------------- //
  // p31 — deterministic shuffle + shard assignment
  // ---------------------------------------------------------------- //

  test("p31 is a reproducible permutation: every doc once, contiguous shard positions") {
    import spark.implicits._
    val docs = Tables.load(spark, sfDir, "documents")
    val out = graft.queries.Pipeline4.p31_shuffle_shards(spark, sfDir)
    val rows = out.select($"shard", $"pos", $"doc_id").as[(Int, Int, Long)].collect()
    assert(rows.map(_._3).distinct.length.toLong == docs.count(),
      "a shuffle is a permutation — every document exactly once")
    rows.groupBy(_._1).foreach { case (shard, rs) =>
      assert(shard >= 0 && shard < 16)
      assert(rs.map(_._2).sorted.toSeq == (1 to rs.length),
        s"shard $shard positions must be contiguous from 1")
    }
    // rerun must yield the identical order — shards are reproducible
    val again = graft.queries.Pipeline4.p31_shuffle_shards(spark, sfDir)
      .select($"shard", $"pos", $"doc_id").as[(Int, Int, Long)].collect()
    assert(rows.toSeq == again.toSeq)
  }

  test("shuffleShards with two hex digits yields 256 shards matching md5 prefixes") {
    import spark.implicits._
    val docs = Tables.load(spark, sfDir, "documents").select($"doc_id")
    val out = graft.operators.TextOps.shuffleShards(docs, "doc_id", hexDigits = 2)
      .select($"doc_id", $"shard").as[(Long, Int)].collect()
    assert(out.forall { case (_, s) => s >= 0 && s < 256 })
    // independent recompute straight from the hash prefix
    val md = java.security.MessageDigest.getInstance("MD5")
    out.foreach { case (id, s) =>
      val hex = md.digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(2)
      assert(s == Integer.parseInt(hex, 16),
        s"doc $id: shard $s != md5 prefix $hex")
    }
  }

  test("p31's window is shard-partitioned — never a single-partition global sort") {
    val plan = graft.queries.Pipeline4.p31_shuffle_shards(spark, sfDir)
      .queryExecution.executedPlan.toString
    val windowLine = plan.linesIterator.find(_.contains("row_number()")).get
    assert(windowLine.contains("windowspecdefinition(shard"),
      s"the position window must partition by shard, got: $windowLine")
  }

  test("p30 joins the LM table back as a broadcast, with no Expand") {
    val plan = graft.queries.Pipeline4.p30_unigram_lm(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      "the vocabulary-bounded LM table must broadcast, not shuffle the corpus")
    assert(!plan.contains("Expand"),
      "no distinct-aggregate Expand — the LM table comes from two plain aggregates")
  }
}
