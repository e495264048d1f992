package graft.examples

import org.apache.spark.sql.functions._

/** End-to-end corpus build: the full training-data pipeline composed
  * from the library operators, in the order a production run applies
  * them (each stage only sees the survivors of the previous one):
  *
  *   1. language-ID + quality gate      (cheap per-row filters first)
  *   2. per-source boilerplate removal  (TextOps.removeBoilerplate)
  *   3. exact dedup                     (hash groupBy on cleaned text)
  *   3b. global-duplication gate        (TextOps.dedupSegmentsGlobal:
  *       drop docs mostly made of corpus-duplicated spans)
  *   3c. exact substring removal        (TextOps.dedupSubstringsGlobal:
  *       Lee et al. 2022 — strip arbitrary-boundary repeated spans,
  *       first corpus occurrence kept)
  *   4. near-dup clusters, keep BEST    (TextDedup pairs → clusters;
  *       p49 quality-aware canonical: longest member wins, not min id)
  *   5. eval-set decontamination        (TextOps.decontaminate against
  *       a p48 LEAKAGE-SAFE eval split: membership hashes through the
  *       duplicate-cluster id, so no near-dup pair straddles the
  *       train/eval boundary)
  *   6. semantic dedup on embeddings    (Ann.semanticDups, SemDeDup)
  *   7. unigram-LM quality gate         (ONE corpus-trained LM pass
  *       gates both the rare-token rate and the CCNet tail bucket)
  *   7b. temperature mixing (τ=0.5)     (n^τ source quotas, threshold
  *       sampling — rare feeds upweighted before packing)
  *   8. PII scrub                       (p53 consistent anonymization
  *       for emails — same entity, same numbered placeholder — then
  *       TextOps.piiScrub for digit runs)
  *   9. token counts + sequence packing (TextOps.packSequences)
  *   9b. retrieval chunks side output   (p52 content-defined chunking
  *       + corpus-global chunk dedup: each distinct chunk stored once;
  *       written next to the training shards)
  *  10. deterministic shuffle + shard, write packed parquet
  *
  * Every stage is declarative DataFrame work — at 100 TB the same
  * code runs unchanged; only the input path and the cluster change.
  *
  * Usage: runMain graft.examples.CorpusBuild [sfDir outDir]
  */
object CorpusBuild {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val out = if (args.length > 1) args(1) else "/tmp/graft_corpus"
    val spark = graft.GraftSession.local(32)
    spark.sparkContext.setLogLevel("ERROR")
    // per-stage wall: the count() in the argument forces the stage's
    // pinned materialization, so elapsed-since-last-print IS the
    // stage's wall (incl. its localCheckpoint)
    var lastT = System.nanoTime()
    def stage(label: String, n: Long): Unit = {
      val now = System.nanoTime()
      println(f"STAGE $label%-28s $n%8d docs ${(now - lastT) / 1e9}%8.2f s")
      lastT = now
    }
    // materialize each expensive stage's survivors once: the per-stage
    // counts AND every later stage would otherwise re-execute the whole
    // upstream lineage (boilerplate shuffle, dedup window, near-dup
    // join) from the scan — ~5x the compute at any scale
    def pin(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
      df.localCheckpoint(eager = true)

    val docs = graft.Tables.load(spark, dir, "documents")
    stage("input", docs.count())

    // 1. language-ID + quality gate: keep docs the metadata marks as
    // the target language with a minimum length (the cheap filters
    // run first so every later stage sees fewer rows)
    val gated = docs.filter(col("lang") === "en" && col("n_chars") >= 100)
    stage("lang+quality gate", gated.count())

    // 1b. sketch sizing: estimate the dedup problem BEFORE paying any
    // dedup shuffle — one corpus pass folding every 5-token shingle
    // into a 256-long KMV buffer (state bounded at k longs; the same
    // pass at 100 TB costs one scan and ships a few KB)
    locally {
      val shRow = graft.operators.TextOps
        .shingleSketch(gated.withColumn("one", lit(1)), "one", "text")
        .select(col("mins"), col("n_instances"))
        .head()
      val mins = shRow.getSeq[Long](0)
      val inst = shRow.getLong(1)
      // clamp: the estimator's +-1/sqrt(k) (~6% at k=256) error can
      // push the estimate past the instance count on a small corpus
      val est = math.min(inst.toDouble, if (mins.size < 256) mins.size.toDouble
        else 255.0 * 1152921504606846976L.toDouble / mins.last.toDouble)
      println(f"SKETCH distinct 5-shingles ~ ${est.toLong}%d of $inst%d instances " +
        f"(${100.0 * (1.0 - est / inst)}%.1f%% repeat mass, k=256 => +-6%% error)")
    }

    // 2. per-source boilerplate removal (C4-style)
    val boilerplated = pin(graft.operators.TextOps
      .removeBoilerplate(gated, "doc_id", "source", "text"))
    stage("boilerplate removed", boilerplated.count())

    // 2b. within-doc repetition trim (Gopher-style, keep-first): drop
    // repeated 2-token segments inside each document — pure map-side,
    // order-preserving array_distinct over one regex segment pass
    val cleaned = pin(graft.operators.TextOps
      .trimRepeatedSegments(boilerplated, "clean_text", "clean_text"))
    stage("repeat-trimmed", cleaned.count())

    // 3. exact dedup on the CLEANED text (boilerplate stripping first
    // makes exact dedup catch docs that differed only in chrome).
    // Window keyed on the full clean_text — "exact" means exact, and
    // a hash co-key would be dead weight: hashpartitioning already
    // hashes the text to route rows, so prefixing an xxhash64 column
    // saves nothing and adds shuffle-key width.
    val exact = cleaned
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("clean_text")).orderBy(col("doc_id"))))
      .filter(col("rn") === 1).drop("rn")
    stage("exact dedup", exact.count())

    // 3b. global-duplication gate: a doc whose segments are mostly
    // duplicates of spans seen earlier in the corpus (the C4
    // first-wins rule) is a copy even if no single doc matches it —
    // drop when more than half its segments lose their first-instance
    // race
    val dupFrac = graft.operators.TextOps
      .dedupSegmentsGlobal(exact, "doc_id", "clean_text")
      .filter(col("n_removed") * 2 > col("n_seg"))
      .select(col("doc_id").as("dup_id"))
    val globalKept = pin(exact.join(
      dupFrac, col("doc_id") === col("dup_id"), "left_anti"))
    stage("global-dup gate", globalKept.count())

    // 3c. exact substring removal (Lee et al. 2022): strip every
    // 20-token-or-longer span whose first corpus occurrence was
    // elsewhere — the arbitrary-boundary complement of 3b's fixed
    // segments (a doc SURVIVES with the repeated spans cut out)
    val spans = graft.operators.TextOps
      .dedupSubstringsGlobal(
        globalKept.select(col("doc_id"), col("clean_text")),
        "doc_id", "clean_text", w = 20)
      .select(col("doc_id"), array_join(col("kept_tok"), " ").as("span_text"))
    val spanFree = pin(globalKept.drop("clean_text")
      .join(spans, "doc_id")
      .withColumnRenamed("span_text", "clean_text")
      .filter(length(trim(col("clean_text"))) > 0))
    stage("substring dedup", spanFree.count())

    // 4. near-dup clusters; keep each cluster's BEST member — the p49
    // quality-aware canonical (longest clean text, ties to the smaller
    // doc id) instead of the blind min-id member: truncated/mirrored
    // copies lose. One orderable-struct max per cluster with map-side
    // partials — a viral cluster never serializes a window sort.
    val toks = pin(spanFree.withColumn("tok", split(col("clean_text"), " ")))
    val pairs = graft.operators.TextDedup
      .nearDupPairs(toks, "doc_id", "source", "tok")
    val members = graft.operators.TextDedup.dupClusters(pairs)
      .select(col("doc_id"), col("cluster_id"))
    val keep = members
      .join(toks.select(col("doc_id"), length(col("clean_text")).as("q")), "doc_id")
      .groupBy(col("cluster_id"))
      .agg(max(struct(col("q"), (-col("doc_id")).as("nd"))).as("best"))
      .select(col("cluster_id"), (-col("best.nd")).as("keep_doc"))
    val nonCanon = members.join(keep, "cluster_id")
      .filter(col("doc_id") =!= col("keep_doc"))
      .select(col("doc_id").as("drop_id"))
    val canon = pin(toks.join(
      nonCanon, col("doc_id") === col("drop_id"), "left_anti"))
    stage("near-dup canonical", canon.count())

    // 5. decontamination against a LEAKAGE-SAFE eval stand-in — the
    // p48 recipe: eval membership hashes through the duplicate-CLUSTER
    // id (a doc outside any cluster hashes through its own id), so a
    // near-duplicate pair can never straddle the train/eval boundary
    // and score memorization. The cluster relation is pair-bounded —
    // a broadcast left join, the corpus pass stays map-side.
    val marked = canon
      .join(broadcast(members), Seq("doc_id"), "left_outer")
      .withColumn("group_id", coalesce(col("cluster_id"), col("doc_id")))
      .withColumn("is_eval", expr(
        "cast(conv(substring(md5(cast(group_id as string)), 1, 8), 16, 10) " +
          "as bigint) % 97 = 0"))
      .drop("cluster_id", "group_id")
    val contaminated = graft.operators.TextOps
      .decontaminate(marked, "doc_id", "tok", isEval = col("is_eval"))
      .select(col("doc_id").as("bad_id"))
    val trainSet = pin(marked.filter(!col("is_eval"))
      .join(contaminated, col("doc_id") === col("bad_id"), "left_anti"))
    stage("decontaminated train", trainSet.count())

    // 6. semantic dedup (SemDeDup): cluster the survivors' embeddings,
    // drop any doc with a lower-id cosine-near neighbor in its cluster
    val emb = graft.Tables.load(spark, dir, "embeddings")
      .join(trainSet.select(col("doc_id").as("vec_id")), "vec_id")
    val semDrop = graft.operators.Ann
      .semanticDups(emb, "vec_id", "embedding", k = 8, iters = 2, threshold = 0.35)
      .select(col("vec_id").as("sem_id"))
    val semKept = pin(trainSet.join(
      semDrop, col("doc_id") === col("sem_id"), "left_anti"))
    stage("semantic dedup", semKept.count())

    // 7. unigram-LM quality gate, ONE pass: train the LM on the
    // surviving corpus itself and gate on both signals it yields —
    // the rare-token rate (CCNet-style rarity: token instances mostly
    // of types seen in < 3 documents) and the likelihood tail bucket
    // (CCNet's head/middle/tail split with offline-fixed cutoffs; the
    // tail is what CCNet discards). Cutoff per Pipeline5.p33.
    val lmTailCutoff = 0.03327
    val lmDrop = graft.operators.TextOps
      .unigramLmScores(
        semKept.select(col("doc_id"), split(col("clean_text"), " ").as("lm_tok")),
        "doc_id", "lm_tok")
      .filter(col("rare_rate") > 0.5 || col("mean_lik") < lmTailCutoff)
      .select(col("doc_id").as("lm_drop_id"))
    val qualified = pin(semKept.join(
      lmDrop, col("doc_id") === col("lm_drop_id"), "left_anti"))
    stage("lm-quality gate", qualified.count())

    // 7b. temperature mixing (τ = 0.5): rebalance the final mixture
    // toward rarer sources before packing — quota_s = min(n_s,
    // floor(8·√n_s)), selection by portable-hash threshold against the
    // broadcast quota relation (pure map-side; no per-stratum sort)
    val qcounts = qualified.groupBy(col("source"))
      .agg(count(lit(1)).as("mix_n"))
      .select(col("source"), col("mix_n"),
        least(col("mix_n"),
          floor(lit(8) * sqrt(col("mix_n").cast("double"))).cast("long")).as("mix_q"))
    val mixed = pin(qualified.join(broadcast(qcounts), "source")
      .filter(conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("long").cast("double") <
        col("mix_q").cast("double") / col("mix_n").cast("double") *
          lit(1152921504606846976L.toDouble))
      .drop("mix_n", "mix_q"))
    stage("temperature mix", mixed.count())

    // 8-9. scrub, token counts, GPT-style packing at 2048 tokens.
    // Emails go through CONSISTENT anonymization (p53): every
    // recurrence of the same address maps to the same numbered
    // placeholder, so "sender wrote to themselves" survives the
    // redaction — a release-hygiene property the collapse-all scrub
    // loses. Remaining digit runs collapse via the placeholder-safe
    // scrub. Both are pure map-side column algebra.
    val anon = graft.operators.TextOps.consistentAnonymize(
        mixed, "clean_text", "anon_text",
        pattern = graft.operators.TextOps.ProductionEmailPattern,
        prefix = "EMAIL")
      .drop("n_mentions", "n_entities")
    // placeholder-safe digit rule: the plain [0-9]{4,} rule would
    // rewrite <EMAIL_1000> and up to one shared <EMAIL_<NUM>> token,
    // breaking the referential integrity the stage above provides
    val scrubbed = graft.operators.TextOps
      .piiScrub(anon, "anon_text", "final_text",
        rules = Seq(graft.operators.TextOps.placeholderSafeDigitRule("EMAIL")))
    val counted = scrubbed.withColumn("n_tokens",
      size(split(col("final_text"), "\\s+")).cast("long"))
    val packed = graft.operators.TextOps
      .packSequences(counted, "doc_id", "source", "n_tokens", budget = 2048)
    stage("packed", packed.count())

    // 9b. retrieval chunks via CONTENT-DEFINED boundaries (p52,
    // FastCDC at token granularity) instead of fixed 64/48 windows:
    // an edit re-chunks only its own neighborhood, so identical
    // downstream content re-aligns and the corpus-global chunk dedup
    // below stores each distinct chunk ONCE (the reuse property fixed
    // windows can never give). One fp-keyed winner aggregate — chunk
    // rows are narrow, the exchange is bounded by distinct content.
    val tokd = scrubbed
      .filter(length(trim(col("final_text"))) > 0)
      .select(col("doc_id"), split(trim(col("final_text")), "\\s+").as("tok"))
    val cdc = graft.operators.TextOps.cdcChunks(tokd, "doc_id", "tok")
    val chunks = pin(cdc.groupBy(col("c_fp"))
      .agg(min(struct(col("doc_id"), col("idx"))).as("w"),
        count(lit(1)).as("n_copies"), max(col("c_len")).as("c_len"))
      .select(col("c_fp"), col("w.doc_id").as("doc_id"),
        col("w.idx").as("idx"), col("c_len"), col("n_copies")))
    chunks.write.mode("overwrite").parquet(out + "_chunks")
    stage("cdc chunks (unique)", chunks.count())

    // 9c. tokenizer artifacts from the FINAL corpus: train the BPE
    // merge table on the cleaned text (rounds on the vocab-bounded
    // dict, the corpus touched once) and write it beside the shards —
    // the tokenizer a training run would pair with this corpus
    val merges = graft.operators.TextOps
      .trainBpeMerges(scrubbed.select(col("final_text")), "final_text", rounds = 16)
    merges.write.mode("overwrite").parquet(out + "_bpe_merges")
    stage("bpe merge table", merges.count())

    // 10. deterministic shuffle + shard: hash-derived shard,
    // within-shard order by the full hash — a reproducible training
    // order — written partitioned by shard so the trainer streams
    // each shard file in its shuffled order
    val sharded = graft.operators.TextOps.shuffleShards(packed, "doc_id")
    sharded.select("shard", "pos", "doc_id", "source", "final_text",
        "n_tokens", "start_off", "first_window", "last_window")
      .write.mode("overwrite").partitionBy("shard").parquet(out)
    println(f"DONE wrote $out (+shard write ${(System.nanoTime() - lastT) / 1e9}%.2f s)")
    spark.stop()
  }
}
