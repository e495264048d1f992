package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Wave-10 entries: PII scrub (p53) and filtered ANN (s11) — the
  * semantic properties the oracle hash can't name directly: the scrub
  * leaves NO residual matches, the audit counts recount by brute
  * force, and pre-filtering genuinely differs from post-filtering. */
class Wave10Spec extends AnyFunSuite with SharedSparkSession {

  private val dir = "/root/testdata/sf0.001"

  test("p53: consistent numbering recounts against a java.util.regex reference") {
    // rebuild the augmented text, anonymize it independently with a
    // LinkedHashMap first-occurrence numbering, and compare the md5s
    // the entry reports — exact string equality by fingerprint
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
      .collect()
    val pat = java.util.regex.Pattern.compile(queries.Pipeline10.EmailRe)
    val expected = docs.map { r =>
      val id = r.getLong(0)
      val aug = r.getString(1) + " contact u" + id + "@example.com or u" +
        (id + 1) + "@example.com; primary u" + id + "@example.com"
      val seen = new java.util.LinkedHashMap[String, Int]()
      val m = pat.matcher(aug)
      var mentions = 0
      while (m.find()) {
        mentions += 1
        if (!seen.containsKey(m.group)) seen.put(m.group, seen.size + 1)
      }
      var anon = aug
      // longest-first application, first-appearance numbering — the
      // shadowing-safe order the operator uses
      import scala.jdk.CollectionConverters._
      seen.entrySet().asScala.toSeq.sortBy(-_.getKey.length)
        .foreach(e => anon = anon.replace(e.getKey, s"<EMAIL_${e.getValue}>"))
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(anon.getBytes("UTF-8")).map("%02x".format(_)).mkString
      id -> ((mentions, seen.size, anon.length.toLong, md))
    }.toMap
    val out = queries.Pipeline10.p53_consistent_anonymize(spark, dir).collect()
    assert(out.length == expected.size)
    out.foreach { r =>
      val (mentions, entities, len, md) = expected(r.getLong(0))
      assert(r.getInt(1) == mentions, s"mention count mismatch for doc ${r.getLong(0)}")
      assert(r.getInt(2) == entities, s"entity count mismatch for doc ${r.getLong(0)}")
      assert(r.getLong(3) == len, s"anon length mismatch for doc ${r.getLong(0)}")
      assert(r.getString(4) == md, s"anon fingerprint mismatch for doc ${r.getLong(0)}")
    }
    // the recurrence property the operator exists for: the repeated
    // entity keeps ONE placeholder — every doc has <EMAIL_1> twice
    val anonDf = operators.TextOps.consistentAnonymize(
      Tables.load(spark, dir, "documents").select(col("doc_id"),
        concat(col("text"), lit(" x u7@example.com y u7@example.com z u9@example.com"))
          .as("aug")),
      "aug", "anon", queries.Pipeline10.EmailRe, "EMAIL")
    val bad = anonDf.filter(
      !(col("anon").contains("<EMAIL_1>") &&
        expr("size(split(anon, '<EMAIL_1>', -1)) = 3") &&
        col("anon").contains("<EMAIL_2>") &&
        !col("anon").rlike(queries.Pipeline10.EmailRe)))
    assert(bad.count() == 0,
      "a recurring entity did not keep a single consistent placeholder")
  }

  test("p53: a substring-shadowed entity pair survives intact (longest-first fold)") {
    // u7@example.com (first appearance, EMAIL_1) is a proper substring
    // of zu7@example.com (EMAIL_2). A first-appearance-ordered fold
    // corrupts the longer entity to 'z<EMAIL_1>' — a mangled,
    // never-numbered hybrid that LEAKS the distinguishing prefix.
    import spark.implicits._
    val out = operators.TextOps.consistentAnonymize(
      Seq((1L, "short u7@example.com first, then long zu7@example.com, short again u7@example.com"))
        .toDF("doc_id", "aug"),
      "aug", "anon", queries.Pipeline10.EmailRe, "EMAIL").collect().head
    val anon = out.getAs[String]("anon")
    assert(anon == "short <EMAIL_1> first, then long <EMAIL_2>, short again <EMAIL_1>",
      s"shadowed pair mis-anonymized: $anon")
    assert(out.getAs[Int]("n_mentions") == 3 && out.getAs[Int]("n_entities") == 2)
  }

  test("CorpusBuild scrub order: digit-run rule leaves >=1000-numbered placeholders intact") {
    // the plain [0-9]{4,} rule applied AFTER consistentAnonymize
    // rewrote <EMAIL_1000> and up to one shared <EMAIL_<NUM>> token —
    // every >=1000th distinct entity collapsed together, silently
    // breaking same-entity-same-placeholder on email-dense documents.
    // This mirrors CorpusBuild's stage order with its production
    // pattern and the placeholder-safe rule.
    import spark.implicits._
    val emails = (1 to 1200).map(i => s"user$i@host$i.org")
    val text = emails.mkString(" ") + " and again " + emails.last + " call 5551234 now"
    val df = Seq((1L, text)).toDF("doc_id", "clean_text")
    val anon = operators.TextOps.consistentAnonymize(
      df, "clean_text", "anon_text",
      pattern = operators.TextOps.ProductionEmailPattern, prefix = "EMAIL")
    val out = operators.TextOps.piiScrub(
        anon.drop("n_mentions", "n_entities"), "anon_text", "final_text",
        rules = Seq(operators.TextOps.placeholderSafeDigitRule("EMAIL")))
      .select("final_text", "n_digit_runs").collect().head
    val ft = out.getString(0)
    assert(!ft.contains("<NUM>>") && !ft.contains("@"),
      "a placeholder number was collapsed or an email leaked")
    assert(ft.contains("<EMAIL_1200>") &&
      ft.indexOf("<EMAIL_1200>") != ft.lastIndexOf("<EMAIL_1200>"),
      "the recurring 1200th entity lost its consistent placeholder")
    assert(ft.endsWith("call <NUM> now"), s"legit digit run survived: ${ft.takeRight(40)}")
    assert(out.getInt(1) == 1, "digit-run count should see only the non-placeholder run")
  }

  test("p53: entities containing '|' are handled (struct fold has no packed delimiter)") {
    // the pre-r14 fold packed len|entity|index into one string and
    // split_part'ed on '|'; a pattern whose matches can contain '|'
    // corrupted the parse. The struct-based fold has no delimiter.
    import spark.implicits._
    val out = operators.TextOps.consistentAnonymize(
      Seq((1L, "see |alpha| and |beta| then |alpha| again"))
        .toDF("doc_id", "aug"),
      "aug", "anon", "[|][a-z]+[|]", "TAG").collect().head
    assert(out.getAs[String]("anon") == "see <TAG_1> and <TAG_2> then <TAG_1> again",
      s"pipe-bearing entities mis-anonymized: ${out.getAs[String]("anon")}")
    assert(out.getAs[Int]("n_mentions") == 3 && out.getAs[Int]("n_entities") == 2)
  }

  test("s11: recall vs the FILTERED brute-force oracle holds a floor, and nprobe escalation recovers it") {
    // pre-filtering keeps top-k k-deep, but matching vectors can live
    // outside the probed cells (the FAISS IDSelector failure mode), so
    // recall vs a filtered exact oracle is the honest quality metric.
    // FilteredAnnLab sweeps the full selectivity×nprobe grid; this pins
    // the battery config's floor (sf0.001 measured 0.400 at nprobe=4)
    // and the escalation contract (nprobe=cells ⇒ exhaustive ⇒ ~1.0).
    import org.apache.spark.sql.Column
    import graft.functions.TopKFunctions.topk_by
    import graft.functions.VectorFunctions.vec_dot
    graft.functions.VectorFunctions.register(spark)
    graft.functions.TopKFunctions.register(spark)
    val emb = Tables.load(spark, dir, "embeddings")
    val queriesDf = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val ivf = operators.Ann.buildIvf(
      emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv")),
      cells = 16, lloydIters = 1)
    val corpus = emb.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("cv"), col("label"))
    val f: Column = col("label") === 3
    val exact = corpus.filter(f)
      .withColumn("cn", sqrt(vec_dot(col("cv"), col("cv"))))
      .join(broadcast(queriesDf
        .withColumn("qn", sqrt(vec_dot(col("qv"), col("qv"))))),
        col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (vec_dot(col("qv"), col("cv")) / (col("qn") * col("cn"))).as("cos"))
      .groupBy(col("query_id"))
      .agg(topk_by(col("cos"), col("neighbor_id"), 10).as("top"))
      .select(col("query_id"), explode(col("top").getField("id")).as("neighbor_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallAt(nprobe: Int): Double = {
      val got = operators.Ann.ivfFilteredTopK(queriesDf, corpus, ivf,
          k = 10, nprobe = nprobe, candidateFilter = f)
        .select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      (exact intersect got).size.toDouble / exact.size
    }
    val r4 = recallAt(4)
    val r16 = recallAt(16)
    assert(r4 >= 0.25,
      f"filtered recall@10 at the battery config (nprobe=4) fell to $r4%.3f")
    assert(r16 >= 0.95,
      f"nprobe=cells should be exhaustive over the filtered corpus, got $r16%.3f")
    assert(r16 >= r4, "nprobe escalation must not lose recall")
  }

  test("s11: every returned neighbor satisfies the filter, and pre-filter beats post-filter") {
    val out = queries.Pipeline10.s11_ann_ivf_filtered(spark, dir)
    val emb = Tables.load(spark, dir, "embeddings")
    val joined = out.join(
      emb.select(col("vec_id").as("neighbor_id"), col("label")), "neighbor_id")
    assert(joined.count() > 0, "filtered ANN returned no rows")
    assert(joined.filter(col("label") =!= 3).count() == 0,
      "a neighbor violating the filter leaked into the top-k")
    // post-filtering a plain top-10 instead must lose hits: with a
    // ~10%-selective label, a plain top-10 rarely contains 10
    // label-3 vectors — the pre-filter keeps k deep
    val ivf = operators.Ann.buildIvf(
      emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv")),
      cells = 16, lloydIters = 1)
    val queriesDf = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val plainThenFilter = operators.Ann.ivfTopK(queriesDf,
        emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv")),
        ivf, k = 10, nprobe = 4)
      .join(emb.select(col("vec_id").as("neighbor_id"), col("label")), "neighbor_id")
      .filter(col("label") === 3)
    assert(plainThenFilter.count() < out.count(),
      "post-filtering returned as many hits as pre-filtering — the fixture no longer demonstrates the divergence")
  }
}
