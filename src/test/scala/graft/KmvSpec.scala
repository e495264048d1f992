package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{KmvBuffer, KmvFunctions}

class KmvSpec extends AnyFunSuite with SharedSparkSession {

  override protected def setUpSession(s: SparkSession): Unit = KmvFunctions.register(s)

  test("kmv_minima equals distinct-sort-limit-k under heavy duplication") {
    import spark.implicits._
    // values drawn from a small space so duplicates cross partitions —
    // the distinctness contract is what separates KMV from bottom-k
    val rows = (0 until 20000).map(i => (i % 3, ((i * 2654435761L) % 997 + 5)))
    val df = rows.toDF("g", "h").repartition(8)

    val expected = df.select($"g", $"h").distinct()
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy($"g").orderBy($"h")))
      .filter($"rn" <= 64)
      .groupBy($"g").agg(sort_array(collect_list($"h")).as("mins"))
      .orderBy($"g").collect().map(r => r.getInt(0) -> r.getSeq[Long](1)).toSeq

    val got = df.groupBy($"g")
      .agg(KmvFunctions.kmv_minima($"h", 64).as("mins"))
      .orderBy($"g").collect().map(r => r.getInt(0) -> r.getSeq[Long](1)).toSeq

    assert(got == expected)
  }

  test("property: buffer == sorted distinct take k, any stream, any split point") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    (0 until 200).foreach { i =>
      val params = Gen.Parameters.default
      val seed = Seed(i.toLong)
      val k = Gen.choose(1, 12).apply(params, seed).get
      val xs = Gen.listOfN(60, Gen.choose(0L, 40L)).apply(params, seed.next).get
      val expected = xs.distinct.sorted.take(k)
      // single buffer
      val b = new KmvBuffer(k)
      xs.foreach(b.insert)
      assert(b.sortedArray.toSeq == expected, s"seed=$i single k=$k")
      // split at every prefix and merge — the partial-aggregation path
      val cut = Gen.choose(0, xs.length).apply(params, seed.next.next).get
      val (l, r) = xs.splitAt(cut)
      val bl = new KmvBuffer(k); l.foreach(bl.insert)
      val br = new KmvBuffer(k); r.foreach(br.insert)
      bl.merge(br)
      assert(bl.sortedArray.toSeq == expected, s"seed=$i merged k=$k cut=$cut")
    }
  }

  test("buffer dedups, evicts the max, and merges without double-counting") {
    val b = new KmvBuffer(3)
    Seq(50L, 10L, 50L, 30L, 40L).foreach(b.insert)
    assert(b.sortedArray.toSeq == Seq(10L, 30L, 40L)) // 50 evicted, dup ignored
    b.insert(35L)
    assert(b.sortedArray.toSeq == Seq(10L, 30L, 35L))
    b.insert(35L) // re-inserting a kept value must not evict anything
    assert(b.sortedArray.toSeq == Seq(10L, 30L, 35L))
    val o = new KmvBuffer(3)
    Seq(10L, 20L, 30L).foreach(o.insert) // overlaps b on 10 and 30
    b.merge(o)
    assert(b.sortedArray.toSeq == Seq(10L, 20L, 30L))
  }

  test("p41 plan: one source-keyed exchange, KMV partial below it, no distinct") {
    val df = queries.Pipeline7.p41_kmv_distinct(spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan.toString
    val hashEx = "Exchange hashpartitioning\\(source".r.findAllIn(plan).length
    assert(hashEx == 1, s"expected exactly one source exchange:\n$plan")
    // the partial aggregate must run map-side (below the exchange), so
    // the shuffle carries sketch buffers, never shingle hashes
    assert(plan.contains("partial_kmv_minima"), s"no map-side KMV partial:\n$plan")
    // no exchange keyed by the shingle hash: dedup happens inside the
    // sketch buffers, never as a distinct/aggregate on h
    assert(!"Exchange hashpartitioning\\(h#".r.unanchored.matches(plan),
      s"sketch plan shuffles shingle hashes:\n$plan")
    // the build chain is one pass per document: no row-per-shingle
    // explode anywhere (shingle_kmv reduces each doc inside the scan
    // projection)
    assert(!plan.contains("Generate explode"),
      s"sketch build must not explode one row per shingle:\n$plan")
  }

  test("shingle_kmv matches the exploded md5 chain bit-for-bit on real docs") {
    val n = 5; val k = 48
    val docs = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("tok"))
      .filter(size(col("tok")) >= n)
    val legacy = docs
      .select(col("doc_id"), col("tok"),
        explode(sequence(lit(0), size(col("tok")) - n)).as("i"))
      .select(col("doc_id"),
        conv(substring(md5(concat_ws(" ",
          (0 until n).map(o => element_at(col("tok"), col("i") + o + 1)): _*)),
          1, 15), 16, 10).cast("long").as("h"))
      .groupBy(col("doc_id"))
      .agg(KmvFunctions.kmv_minima(col("h"), k).as("mins"))
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getSeq[Long](1)))
    val fused = docs
      .select(col("doc_id"), KmvFunctions.shingle_kmv(col("tok"), n, k).as("mins"))
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getSeq[Long](1)))
    assert(fused.nonEmpty && fused.toSeq == legacy.toSeq)
  }

  test("shingle_kmv edges: short doc empty, null tokens skipped like concat_ws") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq[String]("a", "b", "c")),
      (2L, Seq[String]("a")), // shorter than n=2: no window
      (3L, Seq[String]("a", null, "b"))) // concat_ws drops NULLs
      .toDF("id", "tok")
    val got = df.select($"id", KmvFunctions.shingle_kmv($"tok", 2, 16).as("mins"))
      .orderBy($"id").collect().map(r => (r.getLong(0), r.getSeq[Long](1).sorted))
    def h60(s: String): Long =
      java.lang.Long.parseLong(
        org.apache.commons.codec.digest.DigestUtils.md5Hex(s).substring(0, 15), 16)
    assert(got(0) == ((1L, Seq(h60("a b"), h60("b c")).sorted)))
    assert(got(1) == ((2L, Seq.empty[Long])))
    // windows of (a, null) and (null, b) join to "a" and "b"
    assert(got(2) == ((3L, Seq(h60("a"), h60("b")).sorted)))
  }

  test("kmv_minima as streaming state: multi-batch result equals the batch sketch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val rows = (0 until 3000).map(i => (i % 4, ((i * 40503L) % 251)))
    val expected = rows.toDF("g", "h").groupBy($"g")
      .agg(KmvFunctions.kmv_minima($"h", 32).as("mins"))
      .orderBy($"g").collect().map(r => (r.getInt(0), r.getSeq[Long](1))).toSeq
    // same rows through THREE micro-batches: the aggregate's buffers
    // must serialize into the state store and merge across batches
    val mem = MemoryStream[(Int, Long)](spark)
    val q = mem.toDF().toDF("g", "h")
      .groupBy($"g").agg(KmvFunctions.kmv_minima($"h", 32).as("mins"))
      .writeStream.outputMode("complete").format("memory")
      .queryName("kmv_stream_test").start()
    rows.grouped(1000).foreach { batch => mem.addData(batch); q.processAllAvailable() }
    val got = spark.table("kmv_stream_test")
      .orderBy($"g").collect().map(r => (r.getInt(0), r.getSeq[Long](1))).toSeq
    q.stop()
    assert(got == expected)
  }

  test("sharded sketches parquet-round-trip and merge to the whole-corpus sketch") {
    val dir = "/root/testdata/sf0.001"
    val docs = graft.Tables.load(spark, dir, "documents")
    val whole = graft.operators.TextOps.shingleSketch(docs, "source", "text", k = 64)
      .orderBy("source").collect().map(r => (r.getString(0), r.getSeq[Long](1), r.getLong(2)))
    // shard the corpus three ways, sketch each shard independently,
    // persist, reload, merge — must equal the whole-corpus sketch
    val tmp = java.nio.file.Files.createTempDirectory("kmv_shards").toString
    (0 until 3).foreach { i =>
      graft.operators.TextOps.shingleSketch(
          docs.filter(col("doc_id") % 3 === i), "source", "text", k = 64)
        .write.mode("append").parquet(tmp)
    }
    val merged = graft.operators.TextOps.mergeSketches(
        spark.read.parquet(tmp), "source", k = 64)
      .orderBy("source").collect().map(r => (r.getString(0), r.getSeq[Long](1), r.getLong(2)))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
    assert(merged.toSeq == whole.toSeq)
  }

  test("p43 plan: sketch pairing broadcasts, never sort-merges") {
    val df = queries.Pipeline7.p43_sketch_overlap(spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"sketch pairing should broadcast the tiny sketch relation:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"sources^2 sketch rows must never sort-merge:\n$plan")
  }

  test("p42 plan: zero hash exchanges (pure map-side transform + output sort)") {
    val df = queries.Pipeline7.p42_repeat_trim(spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"within-doc trim must not shuffle on any key:\n$plan")
  }

  test("p44 plan: bounded heap map-side, never a per-stratum window sort") {
    val df = queries.Pipeline7.p44_weighted_sample(spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("partial_topk_by"),
      s"weighted sample must pre-reduce each partition to k rows per source:\n$plan")
    assert(!plan.contains("Window"), s"no window sort in the sample plan:\n$plan")
  }
}
