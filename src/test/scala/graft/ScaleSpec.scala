package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Scale

class ScaleSpec extends AnyFunSuite with SharedSparkSession {

  override protected def sparkConfs: Map[String, String] = Map(
    // static: takes effect only when this suite builds the session
    "spark.sql.warehouse.dir" -> Files.createTempDirectory("graft_wh").toString,
    // disable auto-broadcast: at test scale everything would
    // broadcast, hiding the co-located SMJ path under test
    "spark.sql.autoBroadcastJoinThreshold" -> "-1",
    "spark.sql.requireAllClusterKeysForCoPartition" -> "false")

  test("bucketed join plans with no Exchange on either side") {
    val o = Tables.load(spark, "/root/testdata/sf0.001", "orders")
    val li = Tables.load(spark, "/root/testdata/sf0.001", "lineitem")
      .withColumnRenamed("l_orderkey", "o_orderkey")
    // unique names: a previous JVM's orphaned warehouse dir would
    // otherwise collide (fresh derby metastore, stale location)
    val tag = System.nanoTime()
    Scale.writeBucketed(o, s"b_orders_$tag", "o_orderkey", 4)
    Scale.writeBucketed(li, s"b_lineitem_$tag", "o_orderkey", 4)
    val joined = Scale.bucketedJoin(spark, s"b_orders_$tag", s"b_lineitem_$tag", "o_orderkey")
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"bucketed join still shuffles:\n$plan")
    // same result as the plain join
    val expected = o.join(li, "o_orderkey").count()
    assert(joined.count() == expected)
  }

  test("salted join matches the plain join exactly") {
    val o = Tables.load(spark, "/root/testdata/sf0.001", "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val li = Tables.load(spark, "/root/testdata/sf0.001", "lineitem")
      .select(col("l_orderkey").as("o_orderkey"), col("l_quantity"))
    val plain = o.join(li, "o_orderkey")
    val salted = Scale.saltedJoin(li, o, "o_orderkey", saltBuckets = 8)
    assert(salted.count() == plain.count())
    val a = salted.select("o_orderkey", "o_custkey", "l_quantity")
    val b = plain.select("o_orderkey", "o_custkey", "l_quantity")
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("salted join spreads a hot key across salt buckets") {
    import spark.implicits._
    // pathological skew: one key owns 99% of the left side
    val left = (0 until 10000).map(i => (if (i < 9900) 1L else i.toLong, i))
      .toDF("k", "payload")
    val right = Seq((1L, "hot"), (42L, "cold")).toDF("k", "v")
    val salted = Scale.saltedJoin(left, right, "k", saltBuckets = 8)
    assert(salted.count() == left.join(right, "k").count())
    // the hot key's rows must occupy several salt buckets pre-join
    val spread = left.withColumn("_salt",
      pmod(hash(left.columns.map(col): _*), lit(8)))
      .filter(col("k") === 1L)
      .select(countDistinct(col("_salt"))).head.getLong(0)
    assert(spread >= 6, s"hot key only spread over $spread salts")
  }

  test("p18 packing keeps the hierarchical shape: offsets broadcast, no per-source window on the wide side") {
    val df = graft.queries.PipelineOps.entries("p18_pack_sequences")
      ._1(spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan.toString
    // chunk base offsets must come back as a broadcast, not a shuffle
    assert(plan.contains("BroadcastHashJoin"),
      s"chunk offsets should broadcast-join back:\n$plan")
    // the wide side's windows must be partitioned by (source, chunk) —
    // a window keyed on source alone would serialize each source into
    // one task at scale. Window spec lines name their partition keys.
    val wideWindows = plan.linesIterator
      .filter(l => l.contains("windowspecdefinition(") && l.contains("doc_id"))
      .toSeq
    assert(wideWindows.nonEmpty && wideWindows.forall(_.contains("chunk")),
      s"per-doc window must include the chunk key:\n${wideWindows.mkString("\n")}")
  }

  test("cross-corpus dedup shuffles carry only narrow band/id rows") {
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .withColumn("tok", split(trim(col("text")), "\\s+"))
    val out = graft.operators.TextDedup.nearDupAgainst(
      docs.filter(length(col("source")) > 4),
      docs.filter(length(col("source")) <= 4), "doc_id", "tok")
    val plan = out.queryExecution.executedPlan.toString
    // every Exchange's output must be free of the wide token array —
    // the p22 scale contract: tokens re-attach AFTER the pair dedup,
    // never ride a shuffle
    val exchanges = plan.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.nonEmpty, s"expected shuffles in:\n$plan")
    assert(exchanges.forall(l => !l.contains("tok#")),
      s"a shuffle carries the wide token column:\n${exchanges.mkString("\n")}")
  }

  test("spread guards skip the repartition when the source is already split") {
    import spark.implicits._
    // 16 partitions >= min(parallelism, 8): neither lshTopK nor
    // nearDupAgainst may inject a full-width repartition
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val corpus = emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"))
      .repartition(16)
    val queries = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val lshPlan = graft.operators.Ann
      .lshTopK(queries, corpus, 5, dim = 64).queryExecution.executedPlan.toString
    val fullWidth = lshPlan.linesIterator
      .filter(l => l.contains("Exchange") && l.contains("RoundRobinPartitioning") &&
        l.contains("cv#")).toSeq
    assert(fullWidth.isEmpty,
      s"well-split corpus still full-width repartitioned:\n${fullWidth.mkString("\n")}")
  }

  test("hot band buckets take the triangle-salted path with identical results") {
    import spark.implicits._
    // one degenerate bucket per band: 40 boilerplate docs share every
    // band signature; a handful of distinct docs ride along
    val boiler = (0L until 40L).map(i => (i, "blk", "common boilerplate text shared by every degenerate document"))
    val normal = (100L until 110L).map(i => (i, "blk", s"unique document number $i with its own words ${i * 7} ${i * 13}"))
    val docs = (boiler ++ normal).toDF("doc_id", "src", "text")
      .withColumn("tok", split(col("text"), " "))
    def pairs(cap: Int, salts: Int) = graft.operators.TextDedup
      .nearDupPairs(docs, "doc_id", "src", "tok", 0.8,
        hotBucketCap = cap, hotBucketSalts = salts)
    // cap above any bucket: pure in-row path (the former behavior)
    val viaSmall = pairs(cap = 10000, salts = 4)
    // cap below the degenerate bucket: boilerplate pairs via the salted join
    val viaSalted = pairs(cap = 8, salts = 4)
    assert(viaSmall.collect().toSet == viaSalted.collect().toSet,
      "salted path changed the result set")
    assert(viaSalted.count() >= (40 * 39) / 2, "boilerplate pairs missing")
    // the hot path's join must key on the salt cells so one bucket
    // spreads over g·(g+1)/2 tasks instead of serializing in one
    // (asserted on the candidate relation — the full query checkpoints
    // it, which hides the expansion stages from the final plan)
    val plan = graft.operators.TextDedup
      .nearDupCandidatePairs(docs, "doc_id", "src", "tok", 0.8,
        hotBucketCap = 8, hotBucketSalts = 4, sourceSplits = None)
      .queryExecution.executedPlan.toString
    assert("hashpartitioning\\([^)]*gi[^)]*gj".r.findFirstIn(plan).isDefined,
      s"no salt-cell exchange in the hot-bucket plan:\n$plan")
  }

  test("triangle-salted and in-row paths agree on random corpora for any cap/salt") {
    import spark.implicits._
    val rnd = new scala.util.Random(1234)
    val words = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta",
      "theta", "iota", "kappa")
    // random docs with planted duplicate groups so pairs exist
    val docs = (0 until 120).map { i =>
      val base = if (i % 3 == 0) Seq.fill(12)(words(i % 5)) // boilerplate cluster
        else Seq.fill(8 + rnd.nextInt(8))(words(rnd.nextInt(words.size)))
      (i.toLong, s"s${i % 2}", base.mkString(" "))
    }.toDF("doc_id", "src", "text").withColumn("tok", split(col("text"), " "))
    val reference = graft.operators.TextDedup
      .nearDupPairs(docs, "doc_id", "src", "tok", 0.7, hotBucketCap = 1000000)
      .collect().toSet
    for ((cap, salts) <- Seq((1, 2), (2, 3), (5, 4), (16, 8))) {
      val got = graft.operators.TextDedup
        .nearDupPairs(docs, "doc_id", "src", "tok", 0.7,
          hotBucketCap = cap, hotBucketSalts = salts)
        .collect().toSet
      assert(got == reference, s"cap=$cap salts=$salts diverged")
    }
  }

  test("degenerate semantic-dedup clusters take the salted path with identical results") {
    import spark.implicits._
    // a worst-case corpus: 48 IDENTICAL embeddings (one Voronoi cell
    // collapses into an all-pairs join) plus a handful of distinct
    // vectors so k-means has something to separate
    val mode = (0L until 48L).map(i => (i, Array(1.0f, 0.0f, 0.5f, 0.25f)))
    val rest = (100L until 112L).map(i =>
      (i, Array(-1.0f + (i % 7) * 0.3f, 1.0f, (i % 3) * -0.4f, 0.1f * (i % 5))))
    val emb = (mode ++ rest).toDF("vec_id", "embedding")
    def dups(cap: Int, salts: Int) = graft.operators.Ann
      .semanticDups(emb, "vec_id", "embedding", k = 4, iters = 2,
        threshold = 0.9, hotClusterCap = cap, hotClusterSalts = salts)
    // cap above any cluster: pure in-cluster path (the former behavior)
    val viaSmall = dups(cap = 10000, salts = 4).collect().toSet
    // cap below the degenerate cluster: its pairs via the salted join
    val viaSalted = dups(cap = 8, salts = 4)
    assert(viaSmall == viaSalted.collect().toSet,
      "salted path changed the semantic-dedup result set")
    // every identical-mode member but the representative is a dup
    assert(viaSalted.count() >= 47, "identical-mode dups missing")
    // the hot path must key its join on the salt cells so one cluster
    // spreads over g·(g+1)/2 tasks instead of serializing in one
    val plan = dups(cap = 8, salts = 4).queryExecution.executedPlan.toString
    assert("hashpartitioning\\([^)]*gi[^)]*gj".r.findFirstIn(plan).isDefined,
      s"no salt-cell exchange in the hot-cluster plan:\n$plan")
  }

  test("s02 LSH top-k shuffles carry ids, never embedding vectors") {
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val corpus = emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"))
    val queries = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    // sourceSplits declares the source well-split, so no spread
    // repartition is injected and every remaining shuffle is the
    // operator's own
    val out = graft.operators.Ann.lshTopK(queries, corpus, 5, dim = 64,
      sourceSplits = Some(16))
    // structural walk (incl. under AQE): every shuffle's row payload —
    // initialPlan, because AQE materializes exchanges lazily and the
    // pre-execution inputPlan has none yet
    def shuffles(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.exchange.ShuffleExchangeExec] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        shuffles(a.initialPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        shuffles(q.plan)
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
        shuffles(r.child)
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
        e +: e.children.flatMap(shuffles)
      case other => other.children.flatMap(shuffles)
    }
    val ex = shuffles(out.queryExecution.executedPlan)
    assert(ex.nonEmpty, "expected shuffles in the LSH plan")
    // the candidate-duplication-prone exchanges — the (table, bucket)
    // join and the (query_id, neighbor_id) dedup, where one collision
    // per probe combination multiplies the payload — must carry ids
    // only; vectors may ride only the single-id re-attach joins (and
    // with small query batches AQE turns those into broadcasts)
    ex.foreach { e =>
      val keys = e.outputPartitioning.toString
      val names = e.output.map(_.name)
      if (names.contains("qv") || names.contains("cv")) {
        assert(!keys.contains("bucket"),
          s"vectors ride the bucket-join shuffle: $e")
        assert(!(keys.contains("query_id") && keys.contains("neighbor_id")),
          s"vectors ride the candidate-dedup shuffle: $e")
      }
    }
    // and the dedup exchange itself exists, ids-only
    assert(ex.exists { e =>
      val keys = e.outputPartitioning.toString
      keys.contains("query_id") && keys.contains("neighbor_id") &&
        e.output.map(_.name).forall(n => n == "query_id" || n == "neighbor_id")
    }, s"no ids-only dedup exchange found in:\n${ex.mkString("\n")}")
  }

  test("bucketed signature index joins with no exchange on the stored side") {
    import org.apache.spark.sql.functions._
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .withColumn("tok", split(trim(col("text")), "\\s+"))
    val ref = docs.filter(length(col("source")) <= 4)
    val inc = docs.filter(length(col("source")) > 4)
    val refToks = ref.select(col("doc_id"),
      array_sort(array_distinct(col("tok"))).as("tok"))
    graft.operators.TextDedup.writeSignatureIndexBucketed(
      ref, "doc_id", "tok", "sig_idx_spec", buckets = 8)
    try {
      val viaBucketed = graft.operators.TextDedup.nearDupAgainstIndex(
        inc, spark.table("sig_idx_spec"), refToks, "doc_id", "tok")
      val viaPlain = graft.operators.TextDedup.nearDupAgainstIndex(
        inc, graft.operators.TextDedup.signatureIndex(ref, "doc_id", "tok"),
        refToks, "doc_id", "tok")
      // identical pairs either way
      assert(viaBucketed.collect().toSet == viaPlain.collect().toSet)
      // and the bucketed plan carries strictly fewer band-key exchanges
      // (the stored side reads pre-bucketed; only the increment shuffles)
      def bandExchanges(df: org.apache.spark.sql.DataFrame): Int =
        "Exchange hashpartitioning\\(band_idx".r
          .findAllIn(df.queryExecution.executedPlan.toString).length
      assert(bandExchanges(viaBucketed) < bandExchanges(viaPlain),
        "bucketed index side still exchanges on the band keys")
    } finally spark.sql("DROP TABLE IF EXISTS sig_idx_spec")
  }

  test("probing a persisted IVF index plans no Lloyd stage") {
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val corpus = emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"))
    val queries = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val path = s"/dev/shm/graft_ivf_spec_${System.nanoTime()}"
    try {
      graft.operators.Ann.saveIvf(
        graft.operators.Ann.buildIvf(corpus, cells = 8, lloydIters = 1), path)
      val loaded = graft.operators.Ann.loadIvf(spark, path)
      val probed = graft.operators.Ann.ivfTopK(queries, corpus, loaded, k = 5, nprobe = 2)
      val plan = probed.queryExecution.optimizedPlan.toString
      // the Lloyd update's signature is the decimal(38,9) centroid-mean
      // accumulator; a probe that re-trains would carry it
      assert(!plan.contains("decimal(38,9)"),
        s"probe plan contains a centroid-update stage:\n$plan")
      // and the index must come from the persisted files, not a rebuild
      assert(plan.contains(s"$path/assignments") || plan.contains("parquet"),
        s"probe plan does not read the persisted index:\n$plan")
      assert(probed.count() > 0)
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
    }
  }

  test("bucketed IVF assignments probe with no exchange on the stored side") {
    import org.apache.spark.sql.functions._
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val corpus = emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"))
    val queries = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val idx = graft.operators.Ann.buildIvf(corpus, cells = 8, lloydIters = 1)
    val cpath = s"/dev/shm/graft_ivfb_spec_${System.nanoTime()}"
    graft.operators.Ann.saveIvfBucketed(idx, "ivf_asgn_spec", cpath, buckets = 8)
    try {
      val loaded = graft.operators.Ann.loadIvfBucketed(spark, "ivf_asgn_spec", cpath)
      val viaBucketed = graft.operators.Ann.ivfTopK(queries, corpus, loaded, k = 5, nprobe = 2)
      val viaPlain = graft.operators.Ann.ivfTopK(queries, corpus, idx, k = 5, nprobe = 2)
      assert(viaBucketed.collect().toSet == viaPlain.collect().toSet)
      def cidExchanges(df: org.apache.spark.sql.DataFrame): Int =
        "Exchange hashpartitioning\\(cid".r
          .findAllIn(df.queryExecution.executedPlan.toString).length
      assert(cidExchanges(viaBucketed) < math.max(cidExchanges(viaPlain), 1),
        "bucketed assignment side still exchanges on cid")
    } finally {
      spark.sql("DROP TABLE IF EXISTS ivf_asgn_spec")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(cpath))
    }
  }

  test("bucketed PQ index probes exchange-free and matches the in-flight s08 build") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val emb = Tables.load(spark, dir, "embeddings").select(col("vec_id"), col("embedding"))
    // the s08 configuration exactly: cells=16 probe=4 m=4 cb=8 k=10
    val (codebooks, codes) = graft.operators.Ann.buildPq(
      emb.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id", "embedding", 4, 8)
    val ivf = graft.operators.Ann.buildIvf(
      emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv")),
      cells = 16, lloydIters = 1)
    val inFlight = graft.operators.Ann.pqIvfIndexOf(
      codebooks, codes, "neighbor_id", ivf)
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val apath = s"/dev/shm/graft_pqb_spec_${System.nanoTime()}"
    graft.operators.Ann.savePqBucketed(inFlight, "neighbor_id", "pq_codes_spec",
      apath, buckets = 8)
    try {
      val loaded = graft.operators.Ann.loadPqBucketed(spark, "pq_codes_spec", apath)
      def top(ix: graft.operators.Ann.PqIvfIndex) =
        graft.operators.Ann.ivfPqTopK(queries, "query_id", "embedding", ix,
          "neighbor_id", m = 4, k = 10, nprobe = 4)
      val viaStored = top(loaded)
      val viaFlight = top(inFlight)
      assert(viaStored.collect().toSeq == viaFlight.collect().toSeq)
      // and the operator agrees with the battery entry itself
      assert(viaFlight.collect().toSeq ==
        graft.queries.Pipeline8.s08_ann_ivf_pq(spark, dir).collect().toSeq)
      // recall floor ON THE LOADED index: bit-identity alone would let
      // a parquet round-trip slip (schema/precision) pass unexercised
      // if both sides degraded together — the loaded index must still
      // FIND neighbors, not merely agree with itself
      import graft.functions.TopKFunctions.topk_by
      val exact = emb.select(col("vec_id").as("neighbor_id"),
          transform(col("embedding"), _.cast("double")).as("cv"))
        .join(broadcast(queries.filter(col("query_id") < 5)
          .select(col("query_id"),
            transform(col("embedding"), _.cast("double")).as("qv"))),
          col("query_id") =!= col("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"),
          graft.operators.Kmeans.distSq(col("qv"), col("cv")).as("d2"))
        .groupBy(col("query_id"))
        .agg(topk_by(-col("d2"), col("neighbor_id"), 10).as("top"))
        .select(col("query_id"), explode(col("top").getField("id")).as("neighbor_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val got = viaStored.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val recall = (exact intersect got).size.toDouble / exact.size
      assert(recall >= 0.06,
        f"loaded-index recall@10 $recall%.3f is at the ~0.02 chance floor — " +
          "the persisted codes are not serving useful neighbors")
      def cidExchanges(df: org.apache.spark.sql.DataFrame): Int =
        "Exchange hashpartitioning\\(cid".r
          .findAllIn(df.queryExecution.executedPlan.toString).length
      assert(cidExchanges(viaStored) < math.max(cidExchanges(viaFlight), 1),
        "bucketed codes side still exchanges on cid")
    } finally {
      spark.sql("DROP TABLE IF EXISTS pq_codes_spec")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(apath))
    }
  }

  test("bucketed RESIDUAL PQ index (IVFADC) round-trips and matches s09") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val emb = Tables.load(spark, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val ivf = graft.operators.Ann.buildIvf(
      emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv")),
      cells = 16, lloydIters = 1)
    val (codebooks, codes) = graft.operators.Ann.buildPqResidual(
      emb.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id", "embedding",
      ivf, 4, 8)
    val inFlight = graft.operators.Ann.pqIvfIndexOf(codebooks, codes, "neighbor_id", ivf)
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val apath = s"/dev/shm/graft_pqres_spec_${System.nanoTime()}"
    graft.operators.Ann.savePqBucketed(inFlight, "neighbor_id", "pq_res_codes_spec",
      apath, buckets = 8)
    try {
      val loaded = graft.operators.Ann.loadPqBucketed(spark, "pq_res_codes_spec", apath)
      def top(ix: graft.operators.Ann.PqIvfIndex) =
        graft.operators.Ann.ivfPqTopKResidual(queries, "query_id", "embedding", ix,
          "neighbor_id", m = 4, k = 10, nprobe = 4)
      val viaStored = top(loaded)
      val viaFlight = top(inFlight)
      assert(viaStored.collect().toSeq == viaFlight.collect().toSeq)
      assert(viaFlight.collect().toSeq ==
        graft.queries.Pipeline8.s09_ann_ivfadc(spark, dir).collect().toSeq)
      // recall floor ON THE LOADED residual index (mirrors the raw-index
      // check above): bit-identity with the in-flight build would pass
      // even if both sides degraded together — the persisted residual
      // codes must still find true neighbors after the round-trip
      import graft.functions.TopKFunctions.topk_by
      val exact = emb.select(col("vec_id").as("neighbor_id"),
          transform(col("embedding"), _.cast("double")).as("cv"))
        .join(broadcast(queries.filter(col("query_id") < 5)
          .select(col("query_id"),
            transform(col("embedding"), _.cast("double")).as("qv"))),
          col("query_id") =!= col("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"),
          graft.operators.Kmeans.distSq(col("qv"), col("cv")).as("d2"))
        .groupBy(col("query_id"))
        .agg(topk_by(-col("d2"), col("neighbor_id"), 10).as("top"))
        .select(col("query_id"), explode(col("top").getField("id")).as("neighbor_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val got = viaStored.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val recall = (exact intersect got).size.toDouble / exact.size
      assert(recall >= 0.06,
        f"loaded residual-index recall@10 $recall%.3f is at the ~0.02 chance " +
          "floor — the persisted residual codes are not serving useful neighbors")
      def cidExchanges(df: org.apache.spark.sql.DataFrame): Int =
        "Exchange hashpartitioning\\(cid".r
          .findAllIn(df.queryExecution.executedPlan.toString).length
      assert(cidExchanges(viaStored) < math.max(cidExchanges(viaFlight), 1),
        "bucketed residual codes side still exchanges on cid")
    } finally {
      spark.sql("DROP TABLE IF EXISTS pq_res_codes_spec")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(apath))
    }
  }

  test("q96/p20 range-first shapes: one range exchange, no post-agg sort exchange") {
    val dir = "/root/testdata/sf0.001"
    // q96: the single data-sized exchange is the range partitioning;
    // no hash exchange, and no SECOND range exchange after the agg
    val q96 = graft.SparkEntry.queries("q96_having_distinct")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!q96.contains("Exchange hashpartitioning"),
      s"q96 must not hash-exchange:\n$q96")
    assert("Exchange rangepartitioning".r.findAllIn(q96).length == 1,
      s"q96 must carry exactly one range exchange:\n$q96")
    // p20: doc-keyed range exchanges only (one per branch at most —
    // ReuseExchange may dedupe) + the vocabulary-bounded token hash
    // exchange; the per-doc window and the terminal order must add NO
    // doc_id hash exchange — that is exactly what a materialization
    // pin (localCheckpoint/persist under AQE) would silently re-insert
    // while also demoting the terminal sort to per-partition order
    val p20 = graft.SparkEntry.queries("p20_tfidf")(spark, dir)
      .queryExecution.executedPlan.toString
    assert("Exchange rangepartitioning".r.findAllIn(p20).length <= 2,
      s"p20 grew extra range exchanges:\n$p20")
    assert(!"Exchange hashpartitioning\\(doc_id".r.findAllIn(p20).hasNext,
      s"p20 must not hash-exchange by doc_id (range serves the window):\n$p20")
    // the OUTPUT ORDER itself, not just the plan shape: both entries
    // rely on sortWithinPartitions-under-RangePartitioning being a
    // total order — a future Spark/AQE planning change could demote it
    // to per-partition order without failing the plan asserts above
    // (and the oracle gate sorts rows, so IT wouldn't catch it either)
    val q96keys = graft.SparkEntry.queries("q96_having_distinct")(spark, dir)
      .select("l_orderkey").collect().map(_.getLong(0))
    assert(q96keys.nonEmpty && (q96keys zip q96keys.tail).forall(p => p._1 <= p._2),
      "q96 output is no longer globally ordered by l_orderkey")
    val p20keys = graft.SparkEntry.queries("p20_tfidf")(spark, dir)
      .select("doc_id", "rk").collect().map(r => (r.getLong(0), r.getInt(1)))
    assert(p20keys.nonEmpty &&
      (p20keys zip p20keys.tail).forall(p => p._1._1 < p._2._1 ||
        (p._1._1 == p._2._1 && p._1._2 <= p._2._2)),
      "p20 output is no longer globally ordered by (doc_id, rk)")
  }

  test("c69 catalog variant carries q80's tuned shape: no SMJ, no composite-key exchange") {
    // the r12 sf10 "writeback weather" on c69 was largely plan, not
    // box: the raw SQL template SMJ-joins the fact sides on the
    // composite (l_orderkey, l_linenumber) key — two full-fact
    // exchanges + two full-fact sorts the parquet twin dropped in r10.
    // The entry now builds q80's tuned plan over catalog tables; pin it.
    val dir = "/root/testdata/sf0.001"
    // the bench/verify sessions set this at build time; the shared spec
    // session may predate this suite, so pin it for the assertion and
    // restore after (subset-key acceptance is what removes the
    // composite-key and post-join exchanges)
    val key = "spark.sql.requireAllClusterKeysForCoPartition"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try {
      val plan = graft.SparkEntry.queries("c69_ds_cat_net_returns")(spark, dir)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("SortMergeJoin"),
        s"c69 reverted to sort-merge joins:\n$plan")
      assert(!"Exchange hashpartitioning\\(l_orderkey[#0-9L]*, l_linenumber".r
        .findAllIn(plan).hasNext,
        s"c69 re-grew a composite-key full-fact exchange:\n$plan")
      assert(!"Exchange hashpartitioning\\(l_orderkey[#0-9L]*, 4\\), ENSURE".r
        .findAllIn(plan).hasNext,
        s"c69 re-exchanges the joined fact before the orders join:\n$plan")
    } finally {
      prior match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("estimatedSplits decides the spread guard without launching work") {
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    // tiny single-row-group file → genuinely under-split
    assert(Scale.estimatedSplits(docs) < 8,
      "small test file should read as under-split")
    // an explicit repartition pins the estimate — the guard must not
    // stack a second repartition on an already-spread source
    assert(Scale.estimatedSplits(docs.repartition(16)) == 16)
    // shuffle-introducing operators produce shuffle.partitions splits
    val agg = docs.groupBy(col("source")).count()
    assert(Scale.estimatedSplits(agg) ==
      spark.sessionState.conf.numShufflePartitions)
    // the probe is plan-only: no Spark job may start
    @volatile var jobs = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = jobs += 1
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      Scale.estimatedSplits(docs)
      Scale.estimatedSplits(agg)
      Thread.sleep(200) // let any (unexpected) async job events drain
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs == 0, "estimatedSplits launched a Spark job")
  }

  test("estimatedSplits: union sums, broadcast join keeps probe side, unknown stats spread") {
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    // a union concatenates its children's partitions
    assert(Scale.estimatedSplits(docs.repartition(4).union(docs.repartition(6))) == 10)
    // a broadcast-sized build side doesn't force shuffle.partitions —
    // the join inherits the probe side's estimate
    val probe = docs.repartition(12)
    val dim = docs.select(col("doc_id")).limit(5)
    val sp = spark.sessionState.conf.numShufflePartitions
    assert(sp != 12, "test needs shuffle.partitions != probe partitioning")
    // this suite disables broadcast globally; the estimate honors that
    assert(Scale.estimatedSplits(probe.join(dim, "doc_id")) == sp)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
    try assert(Scale.estimatedSplits(probe.join(dim, "doc_id")) == 12)
    finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    // a leaf with no statistics reports defaultSizeInBytes (Long.MaxValue):
    // that's unknown, not huge — must estimate 1 so the guard spreads
    val noStats = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(org.apache.spark.sql.Row(1L))),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("x",
          org.apache.spark.sql.types.LongType))))
    assert(Scale.estimatedSplits(noStats) == 1)
  }

  test("bruteTopK aggregates map-side instead of window-sorting all candidates") {
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val corpus = emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"))
    val queries = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val out = graft.operators.Ann.bruteTopK(queries, corpus, 5)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("topk_by"),
      s"expected the bounded-heap aggregate in:\n$plan")
    assert(!plan.contains("Window"),
      s"brute top-k must not window-sort the |Q|·n scored relation:\n$plan")
    // and the selection/order still matches the window form exactly
    val got = out.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    import org.apache.spark.sql.expressions.{Window => W}
    import graft.functions.VectorFunctions.vec_cosine
    val w = W.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    val ref = corpus.join(broadcast(queries), col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", vec_cosine(col("qv"), col("cv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(got.toSet == ref.toSet, "heap top-k diverged from the window form")
  }

  test("global segment dedup plans no segment-keyed join or window") {
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val out = graft.operators.TextOps.dedupSegmentsGlobal(docs, "doc_id", "text")
    out.collect() // finalize the adaptive plan
    // the AQE string repeats everything under "== Initial Plan ==" —
    // count operators in the FINAL plan only
    val plan = out.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    // the viral-span hazard: nothing may sort or join on the segment —
    // the only seg-keyed operator allowed is the partial-aggregable
    // min-struct aggregate (one exchange)
    assert(!plan.contains("Window"),
      s"no window anywhere in the dedup plan:\n$plan")
    val segExchanges = "Exchange hashpartitioning\\(seg".r.findAllIn(plan).length
    assert(segExchanges == 1,
      s"expected exactly one seg-keyed exchange (the winner aggregate), got $segExchanges:\n$plan")
    // the final stats ⋈ wins join is doc-keyed: both sides exit their
    // aggregates hash-partitioned on the id, so (with broadcast
    // disabled in this suite) the join itself inserts no exchange —
    // every hashpartitioning in the plan belongs to an aggregate
    val allExchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(allExchanges == 3,
      s"expected 3 aggregate exchanges (seg winner, wins-by-doc, stats-by-doc), got $allExchanges:\n$plan")
  }

  test("BM25 retrieval: stats broadcast, map-side scoring, bounded top-k — no wide shuffle") {
    val out = graft.queries.Pipeline6.p39_bm25_topk(spark, "/root/testdata/sf0.001")
    out.collect()
    val plan = out.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    // the collection-stats relation must ride in as a broadcast (one
    // row), never a shuffled join
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      s"collection stats must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"no shuffled join anywhere in a scoring pass:\n$plan")
    // top-10 must be the bounded TakeOrdered, not a global sort
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k must be TakeOrdered:\n$plan")
    assert(!plan.contains("Window"), s"no window sort in retrieval:\n$plan")
    // the only exchanges allowed are the stats aggregate's (partial →
    // single-row final) — nothing keyed by a data-dependent key
    val hashEx = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(hashEx == 0,
      s"scoring must not hash-shuffle the corpus, got $hashEx exchanges:\n$plan")
  }

  test("cluster prototypes: per-cluster quota via bounded heap, not a window sort") {
    val out = graft.queries.Pipeline6.p40_cluster_protos(spark, "/root/testdata/sf0.001")
    out.collect()
    val plan = out.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(plan.contains("topk_by"),
      s"expected the bounded-heap aggregate for the quota:\n$plan")
    assert(!plan.contains("Window"),
      s"the quota must not window-sort each cluster into one task:\n$plan")
  }

  test("dupClusters: a mega-component owning ~99% of nodes stays correct " +
      "through the distributed label loop") {
    // The watch item on the path-halving hop (TextDedup.dupClusters):
    // once labels converge, every row of one giant component carries
    // the SAME label value, so the hop's self-join on `label` keys the
    // whole component into one reducer — the shape AQE skew-split must
    // absorb. This pins behavior under the worst case: a star (every
    // label collapses to the hub immediately — maximum single-label
    // volume from round 1) plus a long chain (exercises the geometric
    // chain collapse over many rounds) fused into ONE component that
    // owns ~99% of all nodes, with broadcast disabled suite-wide so
    // the hop cannot hide behind a broadcast lookup.
    import spark.implicits._
    val starN = 20000
    val chainN = 512
    val star = (1 until starN).map(i => (0L, i.toLong))
    // chain hangs off the hub: 0-30000, 30000-30001, ..., so the star
    // and the chain are one component whose minimum is the hub
    val chain = (0 until chainN).map { i =>
      val a = if (i == 0) 0L else 30000L + i - 1
      (a, 30000L + i)
    }
    // two small separate components — the 1% that must NOT be absorbed
    val smalls = Seq((900001L, 900002L), (900003L, 900004L), (900004L, 900005L))
    val pairs = (star ++ chain ++ smalls).toDF("doc_a", "doc_b")
    // force the distributed regime (the default threshold would take
    // the single-task union-find and never exercise the loop)
    val out = graft.operators.TextDedup.dupClusters(pairs, unionFindMaxEdges = 10L)
      .collect()
    val byNode = out.map(r => r.getLong(0) -> r.getLong(1)).toMap
    val mega = out.filter(_.getLong(1) == 0L)
    assert(mega.length == starN + chainN,
      s"mega-component must own star+chain nodes, got ${mega.length}")
    assert(byNode(900002L) == 900001L && byNode(900005L) == 900003L,
      "small components must keep their own minima, not be absorbed")
    // exactly one canonical row per cluster, and it is the minimum
    val canon = out.filter(_.getBoolean(2)).map(r => r.getLong(0) -> r.getLong(1))
    assert(canon.toSeq.sorted == Seq(0L -> 0L, 900001L -> 900001L, 900003L -> 900003L))
    assert(out.length == starN + chainN + 5)
  }

  test("battery scans keep parquet filter pushdown and column pruning") {
    val df = graft.queries.Relational.q02_filter_pushdown(spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("PushedFilters:") && !plan.matches("(?s).*PushedFilters: \\[\\].*"),
      s"expected non-empty PushedFilters in:\n$plan")
    val readSchemas = plan.linesIterator.filter(_.contains("ReadSchema")).toSeq
    assert(readSchemas.nonEmpty && readSchemas.forall(!_.contains("l_comment")),
      "projection pruning must drop unused wide columns from the scan")
  }
}
