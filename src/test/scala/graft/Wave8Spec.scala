package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Wave-8 operators: PQ ANN (s07) and temperature mixture sampling
  * (p47) — semantic pins plus the plan shapes that make them
  * 100 TB-safe. */
class Wave8Spec extends AnyFunSuite with SharedSparkSession {

  test("PQ: an exact duplicate vector attains the minimal ADC distance") {
    import spark.implicits._
    val dim = 16
    def vec(seed: Long): Seq[Float] =
      (0 until dim).map(i => (((seed * 2654435761L + i * 40503L) % 1000) / 500.0f - 1.0f))
    // vec 40 duplicates vec 3 exactly: identical sub-blocks quantize to
    // identical codes, and a query's own codes minimize every ADC term
    val rows = (0L until 40L).map(i => (i, vec(i))) :+ ((40L, vec(3L)))
    val emb = rows.toDF("vec_id", "embedding")
    val (cb, codes) = operators.Ann.buildPq(emb, "vec_id", "embedding", m = 4, codebookSize = 8)
    val top = operators.Ann.pqTopK(
        emb.filter($"vec_id" === 3L).select($"vec_id".as("query_id"), $"embedding"),
        "query_id", "embedding",
        cb, codes.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id",
        m = 4, k = 5)
      .collect()
    val dupRow = top.find(_.getLong(1) == 40L)
    assert(dupRow.isDefined, s"duplicate vector missing from PQ top-k: ${top.mkString(",")}")
    val minAdc = top.map(_.getDouble(3)).min
    assert(dupRow.get.getDouble(3) == minAdc)
  }

  test("PQ: codes are one row per (vector, sub-block) within the codebook") {
    import spark.implicits._
    val emb = (0L until 30L).map(i => (i, (0 until 8).map(d => (i * 7 + d).toFloat)))
      .toDF("vec_id", "embedding")
    val (cb, codes) = operators.Ann.buildPq(emb, "vec_id", "embedding", m = 2, codebookSize = 4)
    assert(codes.count() == 60)
    assert(codes.groupBy("vec_id").count().filter($"count" =!= 2).count() == 0)
    val validCodes = cb.select($"m", $"cid").collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    val used = codes.select($"m", $"code").distinct().collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSet
    assert(used.subsetOf(validCodes))
  }

  // ---- search QUALITY gates (the s02/s04 precedent): ADC top-k must
  // recall a useful share of the exact same-metric (squared-L2) top-10
  // on the REAL embeddings — a deterministic-but-garbage codebook
  // config passes every replay check but fails these. Random chance at
  // sf0.01 is 10/499 ≈ 0.02; floors sit several × above chance and
  // comfortably below the measured values (PqLab table in BENCH_NOTES;
  // synthetic near-uniform 64-dim vectors bound absolute recall). ----

  private def exactL2Top10(emb: org.apache.spark.sql.DataFrame, nQ: Int): Set[(Long, Long)] = {
    graft.functions.VectorFunctions.register(spark)
    graft.functions.TopKFunctions.register(spark)
    import graft.functions.TopKFunctions.topk_by
    val queries = emb.filter(col("vec_id") < nQ)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"))
      .join(broadcast(queries), col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        operators.Kmeans.distSq(
          transform(col("qv"), _.cast("double")),
          transform(col("cv"), _.cast("double"))).as("d2"))
      .groupBy(col("query_id"))
      .agg(topk_by(-col("d2"), col("neighbor_id"), 10).as("top"))
      .select(col("query_id"), explode(col("top").getField("id")).as("neighbor_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  private def recallOf(df: org.apache.spark.sql.DataFrame, exact: Set[(Long, Long)]): Double = {
    val got = df.select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    (exact intersect got).size.toDouble / exact.size
  }

  test("s07 config recall@10: ADC at m=4 cb=8 beats chance by several x") {
    val emb = Tables.load(spark, "/root/testdata/sf0.01", "embeddings")
      .select(col("vec_id"), col("embedding"))
    val exact = exactL2Top10(emb, 20)
    val (cb, codes) = operators.Ann.buildPq(emb, "vec_id", "embedding", 4, 8)
    val queries = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val r = recallOf(operators.Ann.pqTopK(queries, "query_id", "embedding",
      cb, codes.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id", 4, 10), exact)
    assert(r >= 0.08, f"s07-config PQ recall@10 $r%.3f is not usefully above the 0.02 chance floor")
  }

  test("PQ recall@10 scales with code budget (m=16 cb=64, 3 Lloyd rounds)") {
    val emb = Tables.load(spark, "/root/testdata/sf0.01", "embeddings")
      .select(col("vec_id"), col("embedding"))
    val exact = exactL2Top10(emb, 20)
    val (cb, codes) = operators.Ann.buildPq(emb, "vec_id", "embedding", 16, 64, 3)
    val queries = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val r = recallOf(operators.Ann.pqTopK(queries, "query_id", "embedding",
      cb, codes.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id", 16, 10), exact)
    assert(r >= 0.45, f"96-bit PQ recall@10 $r%.3f below floor (measured 0.605 in PqLab)")
  }

  test("s08 recall@10: IVF+PQ composition stays usefully above chance") {
    val emb = Tables.load(spark, "/root/testdata/sf0.01", "embeddings")
      .select(col("vec_id"), col("embedding"))
    val exact = exactL2Top10(emb, 5)
    val r = recallOf(queries.Pipeline8.s08_ann_ivf_pq(spark, "/root/testdata/sf0.01"), exact)
    assert(r >= 0.06, f"s08 IVF+PQ recall@10 $r%.3f is not usefully above the 0.02 chance floor")
  }

  test("s09 recall@10: residual encoding (IVFADC) clears a RAISED floor") {
    val emb = Tables.load(spark, "/root/testdata/sf0.01", "embeddings")
      .select(col("vec_id"), col("embedding"))
    val exact = exactL2Top10(emb, 5)
    val r = recallOf(queries.Pipeline8.s09_ann_ivfadc(spark, "/root/testdata/sf0.01"), exact)
    info(f"s09 IVFADC recall@10 = $r%.3f")
    assert(r >= 0.15, f"s09 IVFADC recall@10 $r%.3f below the raised floor " +
      "(residual coding measured 0.345 at 20 queries vs raw 0.240 — PqLab r12)")
  }

  test("s10 refine: exact re-rank recalls at least what the ADC stage recalls") {
    // the refine guarantee (and the FAISS IndexRefineFlat claim): the
    // exact re-rank of the ADC stage's k·factor nominees can only
    // keep or improve recall — a nominated true top-k member is
    // outranked only by vectors that are themselves true closer
    val emb = Tables.load(spark, "/root/testdata/sf0.01", "embeddings")
      .select(col("vec_id"), col("embedding"))
    val exact = exactL2Top10(emb, 5)
    val dir = "/root/testdata/sf0.01"
    val rAdc = recallOf(queries.Pipeline8.s09_ann_ivfadc(spark, dir), exact)
    val rRef = recallOf(queries.Pipeline8.s10_ann_ivfadc_refine(spark, dir), exact)
    info(f"ADC=$rAdc%.3f refine=$rRef%.3f")
    assert(rRef >= rAdc,
      f"refine recall $rRef%.3f fell below the ADC stage's $rAdc%.3f")
    assert(rRef >= 0.5, f"refine recall $rRef%.3f below floor (measured 0.740)")
  }

  test("residual codes beat raw codes at the same bit budget (IVFADC claim)") {
    // the Jégou et al. 2011 §IV claim, on the real embeddings at the
    // battery bit budget (m=4 cb=8, 16 cells): residuals span only the
    // Voronoi-cell neighborhood, so the same 12 bits quantize a
    // tighter region. 20 queries, deterministic build — measured
    // 0.345 (residual) vs 0.240 (raw) at nprobe=4, and the residual
    // number is probe-invariant while raw DEGRADES to 0.180 at full
    // probing (its shared tables ignore query-to-cell geometry).
    import graft.operators.Ann
    val emb = Tables.load(spark, "/root/testdata/sf0.01", "embeddings")
      .select(col("vec_id"), col("embedding"))
    val exact = exactL2Top10(emb, 20)
    val qs = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val corp = emb.withColumnRenamed("vec_id", "neighbor_id")
    val ivf = Ann.buildIvf(
      emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv")),
      cells = 16, lloydIters = 1)
    val (cbRaw, cdRaw) = Ann.buildPq(corp, "neighbor_id", "embedding", 4, 8)
    val rRaw = recallOf(Ann.ivfPqTopK(qs, "query_id", "embedding",
      Ann.pqIvfIndexOf(cbRaw, cdRaw, "neighbor_id", ivf), "neighbor_id", 4, 10, 4), exact)
    val (cbRes, cdRes) = Ann.buildPqResidual(corp, "neighbor_id", "embedding", ivf, 4, 8)
    val rRes = recallOf(Ann.ivfPqTopKResidual(qs, "query_id", "embedding",
      Ann.pqIvfIndexOf(cbRes, cdRes, "neighbor_id", ivf), "neighbor_id", 4, 10, 4), exact)
    info(f"raw=$rRaw%.3f residual=$rRes%.3f")
    assert(rRes >= rRaw,
      f"residual coding recall $rRes%.3f fell below raw coding $rRaw%.3f at the same bit budget")
    assert(rRes >= 0.2, f"residual recall $rRes%.3f below floor (measured 0.345)")
  }

  test("PQ: non-divisible dims extend the last sub-block (no dim dropped)") {
    import spark.implicits._
    // 7-dim vectors, m=2: blocks are dims [1,3] and [4,7] — the d mod m
    // remainder rides in the LAST block instead of being silently cut
    val emb = (0L until 20L).map(i => (i, (0 until 7).map(d => (i * 3 + d).toFloat)))
      .toDF("vec_id", "embedding")
    val (cb, codes) = operators.Ann.buildPq(emb, "vec_id", "embedding", m = 2, codebookSize = 4)
    val lens = cb.select($"m", size($"centroid").as("len")).distinct()
      .collect().map(r => (r.getInt(0), r.getInt(1))).toMap
    assert(lens == Map(0 -> 3, 1 -> 4), s"sub-block centroid lengths: $lens")
    assert(codes.filter($"m" === 1).count() == 20) // every vector coded in the wide block
  }

  test("s07 plan: broadcast codebooks, no cartesian, map-side argmin partials") {
    val df = queries.Pipeline8.s07_ann_pq(spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"codebook/table joins must broadcast the small side:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"PQ must never pair corpus rows without a key:\n$plan")
    assert(plan.contains("partial_topk_by"),
      s"argmin assignment must pre-reduce map-side:\n$plan")
    assert(!plan.contains("Window"),
      s"no per-group window sort anywhere in the PQ chain:\n$plan")
  }

  test("s08 plan: candidates come from probed cells; ADC joins broadcast the tables") {
    val df = queries.Pipeline8.s08_ann_ivf_pq(spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"IVF-PQ must never pair corpus rows without a key:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"centroids/distance tables must broadcast:\n$plan")
    assert(!plan.contains("Window"),
      s"no per-group window sort in the IVF-PQ chain:\n$plan")
    assert(plan.contains("partial_topk_by"),
      s"probe/argmin/top-k must pre-reduce map-side:\n$plan")
    // correctness of the composition: every returned neighbor belongs
    // to one of its query's probed cells
    val rows = df.collect()
    assert(rows.nonEmpty && rows.forall(_.getInt(2) >= 1))
  }

  test("s09/s10 plans: residual chain and refine keep the compressed-path shape") {
    for (mk <- Seq(
        queries.Pipeline8.s09_ann_ivfadc _,
        queries.Pipeline8.s10_ann_ivfadc_refine _)) {
      val df = mk(spark, "/root/testdata/sf0.001")
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"),
        s"IVFADC must never pair corpus rows without a key:\n$plan")
      assert(plan.contains("BroadcastHashJoin"),
        s"centroids/residual tables/candidates must broadcast:\n$plan")
      assert(!plan.contains("Window"),
        s"no per-group window sort in the IVFADC chain:\n$plan")
      assert(plan.contains("partial_topk_by"),
        s"probe/argmin/top-k must pre-reduce map-side:\n$plan")
      // (the remaining hashpartitioning exchanges are the BUILD's own
      // narrow (id, m)-keyed aggregates — the documented one-time
      // index-build shape; the QUERY path's refine fetch broadcasts
      // the candidate relation by explicit hint in ivfPqRefineTopK)
    }
  }

  test("p47: quotas follow sqrt scaling and sampling is a map-side filter") {
    val df = queries.Pipeline8.p47_temp_mix(spark, "/root/testdata/sf0.001")
    val rows = df.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, q, sampled) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(q == math.min(n, math.floor(4 * math.sqrt(n.toDouble)).toLong))
      assert(sampled <= n)
    }
    // rare sources sample a HIGHER fraction than common ones in
    // expectation: check the quota fractions, which are deterministic
    val fracs = rows.map(r => r.getLong(1) -> r.getLong(2).toDouble / r.getLong(1))
    val smallest = fracs.minBy(_._1); val largest = fracs.maxBy(_._1)
    if (smallest._1 < largest._1) assert(smallest._2 >= largest._2)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Window") && !plan.contains("SortMergeJoin"),
      s"threshold sampling must not sort or shuffle-join the corpus:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"the quota relation must broadcast:\n$plan")
  }
}
