package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Ann, Kmeans}

class Pipeline3Spec extends AnyFunSuite with SharedSparkSession {

  private def emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
  private val sfDir = "/root/testdata/sf0.001"

  // ---------------------------------------------------------------- //
  // s04 — quantized ANN
  // ---------------------------------------------------------------- //

  test("quantizeQ8 maps into [-127, 127] with the max-abs element at ±127") {
    import spark.implicits._
    val q = emb.select(Ann.quantizeQ8(col("embedding")).as("q"))
      .select(explode(col("q")).as("x"))
      .agg(min("x"), max("x"), max(abs(col("x"))))
      .as[(Int, Int, Int)].head()
    assert(q._1 >= -127 && q._2 <= 127)
    assert(q._3 == 127, "some vector's largest element must quantize to exactly ±127")
  }

  test("quantizeQ8 sends the zero vector to zeros, not NaN") {
    import spark.implicits._
    val z = Seq((1L, Array.fill(8)(0.0f))).toDF("id", "v")
      .select(Ann.quantizeQ8(col("v")).as("q"))
      .select(array_max(col("q")).as("hi"), array_min(col("q")).as("lo"))
      .as[(Int, Int)].head()
    assert(z == ((0, 0)))
  }

  test("quantized cosine stays within the SQ8 error envelope of the exact cosine") {
    import spark.implicits._
    import graft.functions.VectorFunctions.{vec_dot, vec_cosine}
    graft.functions.VectorFunctions.register(spark)
    // per-element relative rounding is ≤ 1/254; over a 64-dim cosine the
    // composed error stays well under 0.02 on real (non-adversarial) data
    val pairs = emb.as("a").crossJoin(emb.limit(20).as("b"))
      .filter(col("a.vec_id") =!= col("b.vec_id"))
      .select(
        vec_cosine(col("a.embedding"), col("b.embedding")).as("exact"), {
          val qa = Ann.quantizeQ8(col("a.embedding"))
          val qb = Ann.quantizeQ8(col("b.embedding"))
          (vec_dot(qa, qb) / (sqrt(vec_dot(qa, qa)) * sqrt(vec_dot(qb, qb)))).as("q8")
        })
    val maxErr = pairs.select(max(abs(col("exact") - col("q8")))).as[Double].head()
    assert(maxErr < 0.02, s"SQ8 cosine error too large: $maxErr")
  }

  test("quantized top-k recalls nearly all of the exact top-10") {
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val corpus = emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"))
    val exact = Ann.bruteTopK(queries, corpus, 10)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val q8 = Ann.quantizedTopK(queries, corpus, 10)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect q8).size.toDouble / exact.size
    assert(recall >= 0.9, s"SQ8 recall@10 too low: $recall (int8 is a mild quantization)")
  }

  // ---------------------------------------------------------------- //
  // s05 — trained IVF
  // ---------------------------------------------------------------- //

  test("trained-IVF top-k recalls a useful share of the exact top-10") {
    val out = graft.queries.Pipeline3.s05_ann_ivf_trained(spark, sfDir)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val corpus = emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"))
    val exact = Ann.bruteTopK(queries, corpus, 10)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect out).size.toDouble / exact.size
    assert(recall >= 0.4, s"trained-IVF recall@10 too low: $recall (nprobe=4 of 16 cells)")
  }

  // ---------------------------------------------------------------- //
  // p23 — domain mixing
  // ---------------------------------------------------------------- //

  test("domain mix admits every document that starts under the budget, per source") {
    import spark.implicits._
    val out = graft.queries.Pipeline3.p23_domain_mix(spark, sfDir)
    // every admitted doc starts strictly under the budget
    val over = out.filter(col("cum_chars") - col("n_chars") >= 2500).count()
    assert(over == 0)
    // greedy-fill property: per source the admitted set is a PREFIX of
    // the hash order — the first non-admitted doc ends every run
    val docs = Tables.load(spark, sfDir, "documents")
    val perSource = docs.groupBy("source").count().as[(String, Long)].collect().toMap
    val admitted = out.groupBy("source").count().as[(String, Long)].collect().toMap
    assert(admitted.keySet == perSource.keySet, "every source contributes")
    admitted.foreach { case (src, n) => assert(n >= 1 && n <= perSource(src)) }
  }

  // ---------------------------------------------------------------- //
  // index persistence
  // ---------------------------------------------------------------- //

  test("IVF index survives save/load and reproduces the inline result") {
    val corpus = emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"))
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val built = Ann.buildIvf(corpus, cells = 16, lloydIters = 1)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf").toString
    Ann.saveIvf(built, dir)
    val loaded = Ann.loadIvf(spark, dir)
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select(col("query_id"), col("neighbor_id"), col("rank"),
        round(col("cos"), 6).as("c")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    val inline = key(Ann.ivfTopK(queries, corpus, built, k = 10, nprobe = 4))
    val fromDisk = key(Ann.ivfTopK(queries, corpus, loaded, k = 10, nprobe = 4))
    assert(inline == fromDisk && inline.size == 50)
    // and the library path agrees with the battery entry (s05 uses the
    // same build parameters)
    val s05 = graft.queries.Pipeline3.s05_ann_ivf_trained(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    assert(inline == s05)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("signature index survives save/load and reproduces the inline dedup") {
    val docs = Tables.load(spark, sfDir, "documents")
      .withColumn("tok", split(trim(col("text")), "\\s+"))
    val newDocs = docs.filter(length(col("source")) > 4)
    val refDocs = docs.filter(length(col("source")) <= 4)
    val dir = java.nio.file.Files.createTempDirectory("graft_sig").toString
    graft.operators.TextDedup.writeSignatureIndex(refDocs, "doc_id", "tok", dir)
    val refToks = refDocs.select(col("doc_id"),
      array_sort(array_distinct(col("tok"))).as("tok"))
    def key(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val inline = key(graft.operators.TextDedup
      .nearDupAgainst(newDocs, refDocs, "doc_id", "tok"))
    val fromDisk = key(graft.operators.TextDedup.nearDupAgainstIndex(
      newDocs, spark.read.parquet(dir), refToks, "doc_id", "tok"))
    assert(inline == fromDisk && inline.nonEmpty)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  // ---------------------------------------------------------------- //
  // vec_dist_sq expression
  // ---------------------------------------------------------------- //

  test("vec_dist_sq matches the interpreted fold and nulls on mismatch") {
    import spark.implicits._
    graft.functions.VectorFunctions.register(spark)
    val df = Seq(
      (Array(1.0f, 2.0f, 3.0f), Array(1.5, 0.0, 3.0)),
      (Array(0.0f, 0.0f, 0.0f), Array(0.0, 0.0, 0.0))).toDF("a", "b")
    val got = df.select(graft.functions.VectorFunctions.vec_dist_sq(col("a"), col("b")))
      .as[Double].collect().toSeq
    val want = df.select(aggregate(
      zip_with(col("a"), col("b"), (x, y) => { val d = x.cast("double") - y; d * d }),
      lit(0.0), (acc, d) => acc + d)).as[Double].collect().toSeq
    assert(got == want)
    val mismatch = Seq((Array(1.0f, 2.0f), Array(1.0))).toDF("a", "b")
      .select(graft.functions.VectorFunctions.vec_dist_sq(col("a"), col("b")))
      .as[Option[Double]].head()
    assert(mismatch.isEmpty, "length mismatch must yield NULL, not a prefix fold")
  }

  // ---------------------------------------------------------------- //
  // p24 — k-means
  // ---------------------------------------------------------------- //

  test("k-means iterations do not increase total within-cluster distance") {
    import spark.implicits._
    val corpus = emb.select(col("vec_id"), col("embedding"))
    def cost(iters: Int): Double =
      Kmeans.trainAssign(corpus, "vec_id", "embedding", k = 8, iters = iters)
        .agg(sum("d2")).as[Double].head()
    val c1 = cost(1)
    val c2 = cost(2)
    assert(c2 <= c1 + 1e-9, s"Lloyd's must not increase cost: iter1=$c1 iter2=$c2")
  }

  test("k-means assignment is deterministic across partitionings") {
    val corpus = emb.select(col("vec_id"), col("embedding"))
    def run(parts: Int): Array[(Long, Long)] =
      Kmeans.trainAssign(corpus.repartition(parts), "vec_id", "embedding", k = 8, iters = 2)
        .select("vec_id", "cid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(run(2).sameElements(run(7)), "assignment must not depend on partitioning")
  }

  test("k-means assigns every vector to a real centroid id") {
    import spark.implicits._
    val corpus = emb.select(col("vec_id"), col("embedding"))
    val out = Kmeans.trainAssign(corpus, "vec_id", "embedding", k = 8, iters = 2)
    assert(out.count() == corpus.count())
    val cids = out.select("cid").distinct().as[Long].collect().toSet
    assert(cids.subsetOf((0L until 8L).toSet) && cids.size >= 2)
  }
}
