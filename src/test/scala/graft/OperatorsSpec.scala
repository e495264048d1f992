package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Ann, Multimodal}

class OperatorsSpec extends AnyFunSuite with SharedSparkSession {

  private def emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")

  test("LSH ANN recalls most of the brute-force top-10") {
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val corpus = emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"))
    val exact = Ann.bruteTopK(queries, corpus, 10)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Ann.lshTopK(queries, corpus, 10, dim = 64, tables = 10, bits = 8)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.5, s"LSH recall@10 too low: $recall")
  }

  test("LSH candidate volume stays far below brute force") {
    val n = emb.count()
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val corpus = emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"))
    val ps = Ann.planes(64, 10, 8)
    val hashed = Ann.bucketize(corpus, "cv", ps)
    // per (table, bucket) occupancy must spread: no bucket with >20% of corpus
    val biggest = hashed.groupBy("table", "bucket").count()
      .agg(max("count")).head.getLong(0)
    assert(biggest < n / 2, s"degenerate LSH bucket of size $biggest")
  }

  test("p10 LSH blocking generates sublinear candidate volume") {
    // candidate pairs from the bucketed self-join must stay far below
    // all-pairs — the reason p10 blocks by LSH bucket, not a hot
    // categorical key
    val e = Tables.load(spark, "/root/testdata/sf0.01", "embeddings")
    val n = e.count()
    val hashed = Ann.bucketize(
        e.select(col("vec_id"), col("embedding")), "embedding",
        Ann.planes(dim = 64, tables = 4, bits = 8))
      .select(col("vec_id"), col("table"), col("bucket"))
    val cands = hashed.as("a").join(hashed.as("b"),
        col("a.table") === col("b.table") && col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id"), col("b.vec_id")).distinct().count()
    val allPairs = n * (n - 1) / 2
    assert(cands < allPairs / 10,
      s"candidates $cands not sublinear vs all-pairs $allPairs")
  }

  test("p08 token re-attach carries no broadcast hint (AQE decides)") {
    // forcing broadcast of the full token relation OOMs at scale; the
    // logical plan must leave join strategy to the optimizer
    import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
    val df = graft.queries.PipelineOps.p08_lsh_pairs(spark, "/root/testdata/sf0.001")
    val hints = df.queryExecution.analyzed.collect { case h: ResolvedHint => h }
    assert(hints.isEmpty, s"unexpected join hints: $hints")
  }

  test("p13 duplicate clusters agree with the pair graph") {
    val dir = "/root/testdata/sf0.01"
    val pairs = graft.queries.PipelineOps.p08_lsh_pairs(spark, dir)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    val clusters = graft.queries.PipelineOps.p13_dup_clusters(spark, dir)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    // every paired doc is labeled, both ends share a cluster
    pairs.foreach { case (a, b) =>
      assert(clusters(a)._1 == clusters(b)._1, s"pair ($a,$b) split across clusters")
    }
    // cluster id is the minimum member; exactly that member is canonical
    clusters.groupBy(_._2._1).foreach { case (cid, members) =>
      assert(members.keys.min == cid)
      assert(members.count(_._2._2) == 1 && members(cid)._2)
    }
  }

  test("p13 distributed propagation matches the single-task union-find") {
    val dir = "/root/testdata/sf0.01"
    val uf = graft.queries.PipelineOps.p13_dup_clusters(spark, dir)
      .collect().map(_.toSeq).toSeq
    System.setProperty("graft.p13.unionFindMaxEdges", "0") // force distributed
    try {
      val prop = graft.queries.PipelineOps.p13_dup_clusters(spark, dir)
        .collect().map(_.toSeq).toSeq
      assert(uf == prop, "the two component regimes must agree exactly")
    } finally System.clearProperty("graft.p13.unionFindMaxEdges")
  }

  test("p14 repetition signals stay inside their bounds") {
    val rows = graft.queries.PipelineOps.p14_repetition(spark, "/root/testdata/sf0.001")
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, top, d2, d3) = (r.getInt(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))
      assert(top >= 1.0 / n && top <= 1.0)
      assert(d2 >= 0.0 && d2 <= 1.0)
      assert(d3 >= 0.0 && d3 <= d2 + 1e-9, "3-gram dups cannot exceed 2-gram dups")
    }
  }

  test("p15 split is deterministic and partitions the corpus 80/10/10-ish") {
    val dir = "/root/testdata/sf0.01"
    val a = graft.queries.PipelineOps.p15_sample_split(spark, dir).collect()
    val b = graft.queries.PipelineOps.p15_sample_split(spark, dir).collect()
    assert(a.sameElements(b), "split must be reproducible")
    val bySplit = a.groupBy(_.getString(1)).view.mapValues(_.map(_.getLong(2)).sum).toMap
    val total = bySplit.values.sum
    assert(bySplit.keySet == Set("train", "val", "test"))
    assert(bySplit("train").toDouble / total > 0.6, s"train share off: $bySplit")
  }

  test("p16 never flags eval docs and reports sane fractions") {
    val rows = graft.queries.PipelineOps.p16_decontaminate(spark, "/root/testdata/sf0.01")
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(0) % 97 != 0, "eval docs must not appear in the train report")
      val frac = r.getDouble(3)
      assert(frac > 0.0 && frac <= 1.0)
      assert(r.getLong(2) <= r.getLong(1))
    }
  }

  test("multimodal pipeline: decode features partition-wise with error rows") {
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val media = Multimodal.asMedia(docs)
    assert(media.schema("bytes").dataType.typeName == "binary")
    val feats = Multimodal.decodeFeatures(media).cache()
    val total = feats.count()
    assert(total == docs.count())
    assert(feats.filter(col("ok")).count() == total) // all docs non-empty
    val f = feats.filter(col("doc_id") === 0).head()
    assert(f.n_bytes > 0 && f.feature.length == 8)
    // deterministic: run twice, same checksums
    val again = Multimodal.decodeFeatures(media)
      .select("doc_id", "head_checksum").collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    feats.select("doc_id", "head_checksum").collect()
      .foreach { r => assert(again(r.getLong(0)) == r.getLong(1)) }
  }

  test("multimodal pipeline: empty payload becomes an error row, not a crash") {
    import spark.implicits._
    val bad = Seq((1L, Array.empty[Byte], Multimodal.MediaMeta("image", 0L, "mem://x")))
      .toDF("doc_id", "bytes", "meta")
    val feats = Multimodal.decodeFeatures(bad).collect()
    assert(feats.length == 1 && !feats(0).ok && feats(0).error.nonEmpty)
  }

  test("RealImageDecoder decodes generated PNGs through the Spark decode stage") {
    import spark.implicits._
    import java.awt.image.BufferedImage
    def png(w: Int, h: Int, rgb: Int): Array[Byte] = {
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      (0 until h).foreach(y => (0 until w).foreach(x => img.setRGB(x, y, rgb)))
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val rows = Seq(
      (1L, png(16, 8, 0xffffff), Multimodal.MediaMeta("image", 0L, "mem://a")), // white
      (2L, png(4, 4, 0x000000), Multimodal.MediaMeta("image", 0L, "mem://b")),  // black
      (3L, "not an image".getBytes("UTF-8"), Multimodal.MediaMeta("image", 0L, "mem://c")))
      .toDF("doc_id", "bytes", "meta")
    val feats = Multimodal.decodeFeatures(rows, new Multimodal.RealImageDecoder)
      .collect().sortBy(_.doc_id)
    assert(feats(0).ok && feats(0).width == 16 && feats(0).height == 8)
    assert(feats(0).feature.length == 8 && feats(0).feature.forall(f => math.abs(f - 1f) < 1e-3))
    assert(feats(1).ok && feats(1).width == 4 && feats(1).height == 4)
    assert(feats(1).feature.forall(f => f < 1e-3))
    assert(!feats(2).ok && feats(2).error.contains("unrecognized"))
  }

  test("frame sampling keeps every k-th frame") {
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents").limit(5)
    val frames = Multimodal.sampleFrames(Multimodal.asMedia(docs), every = 2)
    assert(frames.count() > 0)
    assert(frames.filter(col("frame_idx") % 2 =!= 0).count() == 0)
  }

  test("frame sampling chunks by code point across newlines and non-BMP text") {
    import spark.implicits._
    // 70 code points incl. a newline and an astral emoji -> 3 windows of
    // 32/32/6; a UTF-16 regex split would miscount the surrogate pair
    // and stop at the newline
    val text = ("a" * 10) + "\n" + ("b" * 20) + "😀" + ("c" * 38)
    val docs = Seq((7L, text)).toDF("doc_id", "text")
    val rows = Multimodal.sampleFrames(Multimodal.asMedia(docs), every = 1)
      .orderBy("frame_idx").collect()
    assert(rows.map(_.getInt(1)).toSeq == Seq(0, 1, 2))
    val got = rows.map(_.getString(2))
    assert(got(0).codePointCount(0, got(0).length) == 32)
    assert(got(0).contains("\n"))
    assert(got.mkString == text)
  }

  test("lsh_buckets matches the composed vec_dot bit-fold exactly") {
    import org.apache.spark.sql.functions._
    import graft.functions.VectorFunctions.vec_dot
    val ps = Ann.planes(dim = 64, tables = 3, bits = 6, seed = 7L)
    val bits = ps.head.length
    val planesLit = typedlit(ps)
    val df = emb.limit(500).select(col("vec_id"), col("embedding"))
    graft.functions.LshFunctions.register(spark)
    graft.functions.VectorFunctions.register(spark)
    // the pre-round-3 composed form this expression replaces
    val composed = transform(planesLit, (tablePlanes, t) =>
      struct(t.cast("int").as("table"),
        aggregate(sequence(lit(0), lit(bits - 1)), lit(0), (acc, i) =>
          acc + when(vec_dot(col("embedding"), element_at(tablePlanes, i + 1)) > 0,
            pow(lit(2.0), i).cast("int")).otherwise(lit(0))).as("bucket")))
    val rows = df.select(col("vec_id"),
        graft.functions.LshFunctions.lsh_buckets(col("embedding"), planesLit).as("fast"),
        transform(composed, s => s.getField("bucket")).as("slow"))
      .collect()
    assert(rows.length == 500)
    rows.foreach(r => assert(r.getSeq[Int](1) == r.getSeq[Int](2), s"vec ${r.get(0)}"))
  }

  test("TextOps.piiScrub counts and redacts in rule order") {
    import spark.implicits._
    val df = Seq(
      (1L, "mail me at a.b@x.io or c@y.org, card 1234567890"),
      (2L, "no pii here 123")).toDF("id", "text")
    val out = graft.operators.TextOps.piiScrub(df, "text", "clean")
      .orderBy("id").collect()
    assert(out(0).getAs[Int]("n_emails") == 2)
    assert(out(0).getAs[Int]("n_digit_runs") == 1)
    assert(out(0).getAs[String]("clean") ==
      "mail me at <EMAIL> or <EMAIL>, card <NUM>")
    assert(out(1).getAs[Int]("n_emails") == 0)
    assert(out(1).getAs[Int]("n_digit_runs") == 0) // "123" is under the 4-digit floor
    assert(out(1).getAs[String]("clean") == "no pii here 123")
  }

  test("TextOps.removeBoilerplate strips exactly the shared segments") {
    import spark.implicits._
    // "the daily news" is a 3-token segment shared by docs 1 and 2 of
    // srcA (boilerplate); doc 3 shares its text with srcB's doc 4 only
    // ACROSS sources, so nothing is stripped there. Doc 5's trailing
    // two tokens sit in the unsegmented tail and must survive.
    val df = Seq(
      (1L, "srcA", "the daily news quick brown fox"),
      (2L, "srcA", "the daily news lazy dog jumps"),
      (3L, "srcA", "common across sources body text"),
      (4L, "srcB", "common across sources body text"),
      (5L, "srcA", "the daily news tail bits")).toDF("id", "src", "text")
    val out = graft.operators.TextOps
      .removeBoilerplate(df, "id", "src", "text")
      .orderBy("id").collect()
    assert(out(0).getAs[String]("clean_text") == "quick brown fox")
    assert(out(0).getAs[Long]("n_boiler") == 1 &&
      out(0).getAs[Long]("kept_tokens") == 3)
    assert(out(1).getAs[String]("clean_text") == "lazy dog jumps")
    // cross-source sharing is NOT boilerplate (per-source scoping)
    assert(out(2).getAs[String]("clean_text") == "common across sources body text")
    assert(out(2).getAs[Long]("n_boiler") == 0)
    assert(out(3).getAs[String]("clean_text") == "common across sources body text")
    // the flagged segment goes, the 2-token tail stays
    assert(out(4).getAs[String]("clean_text") == "tail bits")
    assert(out(4).getAs[Long]("n_seg") == 1 &&
      out(4).getAs[Long]("kept_tokens") == 2)
  }

  test("TextOps.removeBoilerplate invariants hold over random corpora") {
    import spark.implicits._
    // deterministic pseudo-random corpora: small vocab (forces shared
    // segments), varying doc lengths incl. tails and sub-segment docs
    val rnd = new scala.util.Random(7)
    val vocab = Array("aa", "bb", "cc", "dd")
    for (round <- 0 until 5) {
      val docs = (0 until 40).map { id =>
        val len = rnd.nextInt(12) // 0..11 tokens
        val words = Seq.fill(len)(vocab(rnd.nextInt(vocab.length)))
        (id.toLong, s"src${id % 3}", words.mkString(" "))
      }
      val df = docs.toDF("id", "src", "text")
      val out = graft.operators.TextOps
        .removeBoilerplate(df, "id", "src", "text").collect()
      val inTok = docs.map { case (id, _, t) =>
        id -> t.trim.split("\\s+").filter(_.nonEmpty).length }.toMap
      // only docs with >= segLen tokens appear
      assert(out.map(_.getAs[Long]("id")).toSet ==
        inTok.filter(_._2 >= 3).keySet, s"round $round doc set")
      out.foreach { r =>
        val (nTok, nSeg) = (inTok(r.getAs[Long]("id")), r.getAs[Long]("n_seg"))
        val (nBoil, kept) = (r.getAs[Long]("n_boiler"), r.getAs[Long]("kept_tokens"))
        assert(nSeg == nTok / 3, s"round $round n_seg")
        // token accounting: every flagged segment removes exactly segLen
        assert(kept == nTok - 3 * nBoil, s"round $round kept_tokens")
        assert(nBoil >= 0 && nBoil <= nSeg, s"round $round boiler bounds")
        // the cleaned text's token count matches kept_tokens
        val cleanCount = r.getAs[String]("clean_text")
          .split("\\s+").filter(_.nonEmpty).length
        assert(cleanCount == kept, s"round $round clean text count")
      }
    }
  }

  test("TextOps.dedupSegmentsGlobal keeps exactly the corpus-first instance") {
    import spark.implicits._
    // "aa bb cc" appears in docs 1 (seg 0), 2 (seg 1), and TWICE in
    // doc 3; only doc 1's instance (smallest (id, seg_i)) survives.
    // Doc 4 has no duplicated segment; doc 5 is under segLen.
    val df = Seq(
      (1L, "aa bb cc xx yy zz"),
      (2L, "pp qq rr aa bb cc"),
      (3L, "aa bb cc aa bb cc tail"),
      (4L, "unique words only here"),
      (5L, "too short")).toDF("id", "text")
    val out = graft.operators.TextOps
      .dedupSegmentsGlobal(df, "id", "text").orderBy("id").collect()
    assert(out.map(_.getAs[Long]("id")).toSeq == Seq(1L, 2L, 3L, 4L))
    assert(out(0).getAs[Long]("n_removed") == 0 &&
      out(0).getAs[Long]("kept_tokens") == 6)
    assert(out(1).getAs[Long]("n_removed") == 1 &&
      out(1).getAs[Long]("kept_tokens") == 3)
    // both of doc 3's instances lose to doc 1's
    assert(out(2).getAs[Long]("n_removed") == 2 &&
      out(2).getAs[Long]("kept_tokens") == 1) // the 1-token tail
    assert(out(3).getAs[Long]("n_removed") == 0 &&
      out(3).getAs[Long]("kept_tokens") == 4)
  }

  test("TextOps.trainBpeMerges replays the classic trainer on a hand-computed corpus") {
    import spark.implicits._
    // words: "ab"×3, "abc"×1, "b"×1.
    // round 1: (a,b) = 3+1 = 4 beats (b,c) = 1 → merge (a,b)
    // round 2: only "abc" (now [ab, c]) has a pair → merge (ab, c), n=1
    // round 3: no pairs remain → the trainer stops early
    val df = Seq("ab ab abc", "ab b").toDF("text")
    val out = graft.operators.TextOps.trainBpeMerges(df, "text", 5).collect()
    assert(out.map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSeq == Seq((1, "a", "b", 4L), (2, "ab", "c", 1L)))
    // same-symbol merge over a run: the documented restart-after-
    // replacement order — "aaaa" under (a,a) merges to [aa, a, a] and
    // "aaa" to [aa, a] — so round 2 counts (aa,a) twice and (a,a) once
    val df2 = Seq("aaaa aaa").toDF("text")
    val out2 = graft.operators.TextOps.trainBpeMerges(df2, "text", 2).collect()
    assert(out2.map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSeq == Seq((1, "a", "a", 5L), (2, "aa", "a", 2L)))
  }

  test("TextOps.dedupSegmentsGlobal accounting holds over random corpora") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val vocab = Array("aa", "bb", "cc")
    val docs = (0 until 60).map { id =>
      val words = Seq.fill(rnd.nextInt(14))(vocab(rnd.nextInt(vocab.length)))
      (id.toLong, words.mkString(" "))
    }
    val out = graft.operators.TextOps
      .dedupSegmentsGlobal(docs.toDF("id", "text"), "id", "text").collect()
    val inTok = docs.map { case (id, t) =>
      id -> t.trim.split("\\s+").filter(_.nonEmpty).length }.toMap
    assert(out.map(_.getAs[Long]("id")).toSet ==
      inTok.filter(_._2 >= 3).keySet)
    // exactly one instance of every distinct segment survives corpus-wide
    val segs = docs.flatMap { case (_, t) =>
      t.split(" ").filter(_.nonEmpty).grouped(3).filter(_.length == 3)
        .map(_.mkString(" ")).toSeq
    }
    val expectedRemoved = segs.length - segs.distinct.length
    assert(out.map(_.getAs[Long]("n_removed")).sum == expectedRemoved)
    out.foreach { r =>
      val nTok = inTok(r.getAs[Long]("id"))
      assert(r.getAs[Long]("n_seg") == nTok / 3)
      assert(r.getAs[Long]("kept_tokens") ==
        nTok - 3 * r.getAs[Long]("n_removed"))
    }
  }

  test("TextOps.chunkDocs covers every token with the declared overlap") {
    import spark.implicits._
    // lengths straddling the window/stride boundaries: 1, 63, 64, 65,
    // 112 (=64+48), 113
    val docs = Seq(1, 63, 64, 65, 112, 113).zipWithIndex.map {
      case (len, i) => (i.toLong, (0 until len).map(j => s"t$j").mkString(" "))
    }
    val out = graft.operators.TextOps
      .chunkDocs(docs.toDF("id", "text"), "id", "text", window = 64, stride = 48)
      .orderBy("id", "chunk_i").collect()
    val byDoc = out.groupBy(_.getAs[Long]("id")).view.mapValues(_.sortBy(_.getAs[Int]("chunk_i")))
    assert(byDoc(0L).length == 1 && byDoc(0L).head.getAs[Long]("n_tok") == 1)
    assert(byDoc(2L).length == 1) // exactly one window
    assert(byDoc(3L).length == 2) // one token past the window
    assert(byDoc(3L)(1).getAs[Int]("start_tok") == 48 &&
      byDoc(3L)(1).getAs[Long]("n_tok") == 17)
    assert(byDoc(4L).length == 2 && byDoc(4L)(1).getAs[Long]("n_tok") == 64)
    assert(byDoc(5L).length == 3 && byDoc(5L)(2).getAs[Long]("n_tok") == 17)
    // coverage: chunk i starts at i*stride and the last chunk reaches n_tok
    docs.foreach { case (id, t) =>
      val n = t.split(" ").length
      val chunks = byDoc(id)
      chunks.zipWithIndex.foreach { case (c, i) =>
        assert(c.getAs[Int]("start_tok") == i * 48)
      }
      val last = chunks.last
      assert(last.getAs[Int]("start_tok") + last.getAs[Long]("n_tok") == n)
    }
    // fingerprints of identical chunk text agree across documents
    val fp112 = byDoc(4L).head.getAs[String]("fp")
    val fp113 = byDoc(5L).head.getAs[String]("fp")
    assert(fp112 == fp113) // both are md5 of tokens t0..t63
    // whitespace-only text emits NO chunk (split(trim("")) = [""]
    // would otherwise fingerprint a phantom 1-token chunk)
    val empty = graft.operators.TextOps
      .chunkDocs(Seq((9L, "   "), (10L, "one")).toDF("id", "text"), "id", "text")
      .collect()
    assert(empty.map(_.getAs[Long]("id")).toSeq == Seq(10L))
  }

  test("Multimodal.windowFingerprints overlaps at the hop, not the window") {
    import spark.implicits._
    // 128 ASCII bytes → windows start at 0, 32, 64 ((128-64)/32 = 2,
    // inclusive) — 3 windows, consecutive ones sharing 32 bytes
    val payload = ("ab" * 64)
    val media = graft.operators.Multimodal.asMedia(
      Seq((1L, payload)).toDF("doc_id", "text"))
    val out = graft.operators.Multimodal.windowFingerprints(media, 64, 32)
      .orderBy("window_idx").collect()
    assert(out.length == 3)
    assert(out.map(_.getAs[Int]("window_idx")).toSeq == Seq(0, 1, 2))
    // the periodic payload makes every aligned window identical — the
    // fingerprints must agree, proving windows are content-addressed
    assert(out.map(_.getAs[String]("fp")).distinct.length == 1)
    // a sub-window payload yields no rows rather than a short window
    val shortMedia = graft.operators.Multimodal.asMedia(
      Seq((2L, "tiny")).toDF("doc_id", "text"))
    assert(graft.operators.Multimodal.windowFingerprints(shortMedia, 64, 32).isEmpty)
  }

  test("TextOps.packSequences matches a single sequential scan") {
    import spark.implicits._
    // irregular token counts force windows to split mid-doc
    val docs = (0L until 200L).map(i => (i, s"g${i % 2}", 1L + (i * 7) % 40))
      .toDF("id", "grp", "n_tok")
    val packed = graft.operators.TextOps
      .packSequences(docs, "id", "grp", "n_tok", budget = 64, chunkDocs = 16)
      .select("id", "start_off", "first_window", "last_window")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // oracle: plain per-group running sum on the driver
    val rows = (0L until 200L).map(i => (i, s"g${i % 2}", 1L + (i * 7) % 40))
    rows.groupBy(_._2).foreach { case (_, grp) =>
      var off = 0L
      grp.sortBy(_._1).foreach { case (id, _, n) =>
        assert(packed(id) == ((off, off / 64, (off + n - 1) / 64)),
          s"doc $id: got ${packed(id)}, want off=$off n=$n")
        off += n
      }
    }
  }

  test("TextOps.decontaminate flags exactly the docs sharing eval shingles") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),   // eval
      (2L, "a quick brown fox jumps over me today ok"),      // overlaps eval shingle
      (3L, "completely different words in this sentence here friend"), // clean
      (4L, "short doc")                                      // under shingle size
    ).toDF("id", "text")
      .select(col("id"), split(col("text"), " ").as("tok"))
    val out = graft.operators.TextOps
      .decontaminate(docs, "id", "tok", isEval = col("id") === 1L, shingleSize = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(out.keySet == Set(2L), s"only doc 2 overlaps: $out")
    assert(out(2L) >= 1)
  }

  test("TextDedup.nearDupPairs finds planted near-dups and respects blocks") {
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val docs = Seq(
      (1L, "b1", base),
      (2L, "b1", base + " phi"),                  // near-dup of 1 (same block)
      (3L, "b2", base + " chi"),                  // near-dup text, DIFFERENT block
      (4L, "b1", "completely different content with none of those words at all ok")
    ).toDF("id", "blk", "text")
      .select(col("id"), col("blk"), split(col("text"), " ").as("tok"))
    val pairs = graft.operators.TextDedup
      .nearDupPairs(docs, "id", "blk", "tok", threshold = 0.8)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)), s"blocks must confine pairs: $pairs")

    val clusters = graft.operators.TextDedup
      .dupClusters(Seq((1L, 2L), (2L, 5L), (7L, 8L)).toDF("doc_a", "doc_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(clusters == Set((1L, 1L, true), (2L, 1L, false), (5L, 1L, false),
      (7L, 7L, true), (8L, 7L, false)))
  }

  test("TextDedup.nearDupAgainst finds cross-corpus dups only, exactly once") {
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    def toDocs(rows: Seq[(Long, String)]) = rows.toDF("id", "text")
      .select(col("id"), split(col("text"), " ").as("tok"))
    // ref corpus: 1 (base), 4 (unrelated); new corpus: 11 (dup of 1),
    // 12 (dup of 11 but NOT of anything in ref), 13 (unrelated)
    val ref = toDocs(Seq(
      (1L, base),
      (4L, "completely different content with none of those words at all ok")))
    val neu = toDocs(Seq(
      (11L, base + " phi"),
      (12L, "totally other unrelated sentence content goes right here now yes"),
      (13L, "totally other unrelated sentence content goes right here now no")))
    val out = graft.operators.TextDedup
      .nearDupAgainst(neu, ref, "id", "tok", threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toList
    // 11~1 is the only cross pair; 12~13 are near-dups of each other
    // but both NEW, so they must not appear; exactly-once (no
    // first-band duplicates) is checked by using a List, not a Set
    assert(out == List((11L, 1L)), s"cross pairs: $out")

    val sigs = graft.operators.TextDedup.bandSignatures(ref, "id", "tok")
    assert(sigs.columns.toSeq == Seq("doc_id", "sz", "bhs"))
    val row = sigs.filter(col("doc_id") === 1L).head()
    assert(row.getSeq[Long](row.fieldIndex("bhs")).size == 8)
    assert(row.getAs[Int]("sz") == 20)
  }

  test("vec_decimal_sum matches the exploded decimal aggregation under any partitioning") {
    import org.apache.spark.sql.types.DecimalType
    graft.functions.VecSumFunctions.register(spark)
    import graft.functions.VecSumFunctions.vec_decimal_sum
    val assigned = emb.select((col("vec_id") % 4).as("cid"), col("embedding").as("v"))
    def viaAgg(parts: Int) = assigned.repartition(parts)
      .select(col("cid"), transform(col("v"), x => x.cast(DecimalType(38, 9))).as("dv"))
      .groupBy(col("cid"))
      .agg(vec_decimal_sum(col("dv")).as("sums"), count(col("dv")).as("n"))
      .select(col("cid"), transform(col("sums"), s => s.cast("double") / col("n")).as("m"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val viaExplode = assigned
      .select(col("cid"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy(col("cid"), col("pos"))
      .agg((sum(col("x").cast(DecimalType(38, 9))).cast("double") /
        count(lit(1))).as("m"))
      .groupBy(col("cid"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
        st => st.getField("m")).as("m"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    // bit-identical (decimal accumulation is exact), and invariant to
    // how rows are spread across partitions
    assert(viaAgg(1) == viaExplode)
    assert(viaAgg(7) == viaExplode)
    // null vectors are ignored consistently in sum AND count
    import spark.implicits._
    val withNull = Seq((0L, Seq(1.0f, 2.0f)), (0L, null.asInstanceOf[Seq[Float]]),
      (0L, Seq(3.0f, 4.0f))).toDF("cid", "v")
      .select(col("cid"), transform(col("v"), x => x.cast(DecimalType(38, 9))).as("dv"))
      .groupBy(col("cid"))
      .agg(vec_decimal_sum(col("dv")).as("sums"), count(col("dv")).as("n"))
      .select(transform(col("sums"), s => s.cast("double") / col("n")).as("m"))
      .head.getSeq[Double](0)
    assert(withNull == Seq(2.0, 3.0))
  }

  test("RealThumbnailer resizes a generated PNG and preserves intensity structure") {
    import graft.operators.Multimodal
    // 64x32 PNG: top half black, bottom half white
    val img = new java.awt.image.BufferedImage(64, 32,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 32; x <- 0 until 64)
      img.setRGB(x, y, if (y < 16) 0x000000 else 0xffffff)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val t = new Multimodal.RealThumbnailer
    val thumb = t.thumb(7L, bos.toByteArray, tw = 8, th = 8)
    assert(thumb.ok && thumb.tw == 8 && thumb.th == 8)
    assert(thumb.rows.length == 8)
    // top rows dark, bottom rows bright (bilinear scale keeps the split)
    assert(thumb.rows.take(3).forall(_ < 0.1), thumb.rows.mkString(","))
    assert(thumb.rows.drop(5).forall(_ > 0.9), thumb.rows.mkString(","))
    // garbage bytes degrade to ok=false, not an exception
    val bad = t.thumb(8L, Array[Byte](1, 2, 3, 4), 8, 8)
    assert(!bad.ok)
    // the fake thumbnailer is deterministic and length-gated
    val fake = new Multimodal.FakeThumbnailer
    val payload = Array.tabulate[Byte](128)(i => (i * 2).toByte)
    val a = fake.thumb(1L, payload, 8, 8)
    val b = fake.thumb(1L, payload, 8, 8)
    assert(a.ok && a.checksum == b.checksum && a.rows.toSeq == b.rows.toSeq)
    assert(!fake.thumb(2L, Array.fill[Byte](63)(1), 8, 8).ok)
  }
}
