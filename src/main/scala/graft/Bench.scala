package graft

import org.apache.spark.sql.SparkSession

/** RDD ids of deliberately RESIDENT caches that inter-entry bench
  * hygiene must not release — e.g. st06's reference signature index,
  * whose stated semantics are "kept cached across invocations" so the
  * entry measures steady-state incremental cost, not a re-hash of the
  * reference corpus. Entries register the ids right after
  * materializing the cache (a before/after diff of
  * `getPersistentRDDs`). */
object ResidentCaches {
  private val ids = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
  def register(id: Int): Unit = { ids.add(id); () }
  def contains(id: Int): Boolean = ids.contains(id)
}

object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = GraftSession.local(cpus)
    // Shuffle-partition override for scale runs: the pair-of-record
    // protocol pins partitions = cores (sf0.1), but on 10-30x replicas
    // the per-reducer pair workload grows past executor memory and the
    // right cluster response is more reducers, not bigger ones. The
    // sf3+ rows in BENCH_NOTES document which setting they used.
    val shufflePartitions =
      sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", cpus.toString)
    spark.conf.set("spark.sql.shuffle.partitions", shufflePartitions)
    // clean-decimal corpus (oracle-imposed) → fast-double-sum contract holds
    graft.plans.FastDoubleDecimalSumRule.install(spark)
    // optional comma-separated subset for local iteration
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val queries = SparkEntry.queries.filter { case (n, _) => only.forall(_(n)) }
    // Untimed warmup pass over the target scale factor: JIT +
    // whole-stage-codegen compilation + parquet footer reads dominate
    // cold sub-second queries. The DuckDB baseline in BENCH_NOTES.md is
    // measured the same way (one warm run, then timed), so the
    // comparison is symmetric; a real deployment amortizes these costs
    // across the job anyway.
    // Force FULL materialization of every output row, not `.count()`:
    // under a count, Catalyst's rewrite prunes terminal projections,
    // windows and sorts AND the aggregate expressions of a terminal
    // groupBy (only the grouping keys survive, for cardinality) — so a
    // count-forced benchmark times a fraction of the query while the
    // DuckDB twin (fetchall) pays all of it. toRdd.foreach executes
    // the optimized plan of the query AS WRITTEN, every column
    // computed, nothing collected to the driver.
    def force(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Unit =
      fn(spark, sfDir).queryExecution.toRdd.foreach(_ => ())
    // sf1+/sf10 heavyweight runs: warmup + min-of-2 means THREE
    // executions of a multi-minute query — SPARK_GRAFT_WARMUP=false /
    // SPARK_GRAFT_PASSES=1 run it once cold (documented per-row in
    // BENCH_NOTES when used; the sf0.1 pair of record always uses the
    // default warm+min-of-2 protocol)
    val doWarmup = sys.env.get("SPARK_GRAFT_WARMUP").forall(_.toBoolean)
    val passes = sys.env.get("SPARK_GRAFT_PASSES").map(_.toInt).getOrElse(2)
    // Inter-entry hygiene (untimed, between entries only): entries
    // using localCheckpoint leave blocks in the BlockManager until a
    // GC lets the ContextCleaner reap them, so in a 244-entry battery
    // later entries inherit earlier entries' storage and heap pressure
    // — the measured in-battery-vs-isolated inflation (p08 2.9x in
    // battery, 1.27x isolated same day). localCheckpoint blocks ARE
    // persistent RDDs, so release them directly; a forced full GC
    // between entries measured strictly worse (BENCH_NOTES r9), while
    // releasing them measured 166.8 s vs 179.0 s at the 250-entry head
    // (freed STORAGE memory lowers unified-memory pressure on the next
    // entry). The DuckDB twin frees its memory between queries the
    // same way. One class of block IS reused across invocations by
    // design: explicitly-resident caches (st06's reference signature
    // index, whose semantics are steady-state incremental dedup) —
    // those register in ResidentCaches and hygiene skips them, so the
    // entry keeps measuring what it claims to measure.
    def hygiene(): Unit =
      spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
        if (!ResidentCaches.contains(id)) rdd.unpersist(blocking = false)
      }
    if (doWarmup) queries.foreach { case (_, fn) =>
      try force(fn) catch { case _: Throwable => }
      hygiene()
    }
    // two timed passes, min per query: sub-second queries carry
    // ±10-15% scheduler/GC noise that min-of-2 mostly removes. The
    // DuckDB baseline in BENCH_NOTES.md is measured the same way
    // (warm + min of two timed runs), keeping the comparison symmetric.
    def timedPass(): Map[String, Double] = queries.map { case (name, fn) =>
      val t0 = System.nanoTime()
      try { force(fn) } catch {
        case e: Throwable =>
          // a failed query must not masquerade as a fast one
          System.err.println(s"BENCH FAIL $name: ${e.getClass.getName}: ${e.getMessage}")
      }
      val dt = (System.nanoTime() - t0) / 1e9
      hygiene()
      name -> dt
    }
    val allPasses = (1 to math.max(1, passes)).map(_ => timedPass())
    val results = allPasses.head.keys.map { name =>
      name -> allPasses.map(_(name)).min
    }.toMap
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir"}"""
    println(line)
    // Machine-readable results file: the driver's stdout capture keeps
    // only a tail (and sbt prefixes every line), so the single JSON
    // line was unparseable in-band for seven rounds. Write the full
    // per-query map + run config to a stable path instead;
    // tools/duckbench.py --merge adds the DuckDB twin per query.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_results.json")
    val perQuery = results.toSeq.sortBy(_._1).map { case (k, v) =>
      s"""    "$k": {"spark_s": $v}"""
    }.mkString(",\n")
    val doc =
      s"""{
         |  "metric": "total",
         |  "value": $total,
         |  "unit": "sec",
         |  "sf": "$sfDir",
         |  "config": {"master": "local[$cpus]", "shuffle_partitions": $shufflePartitions,
         |             "aqe": "true",
         |             "forcing": "toRdd.foreach",
         |             "protocol": "${
             (if (doWarmup) "warm" else "cold") +
               (if (passes > 1) s"+min-of-$passes" else "+single-pass") +
               "+unpersist-between"}"},
         |  "queries": {
         |$perQuery
         |  }
         |}
         |""".stripMargin
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      doc.getBytes("UTF-8"))
    // Driver contract line, emitted LAST so it lands inside the 2000-char
    // stdout tail the driver keeps (BENCH_r01..r15 all have
    // tail_len=2000; the full 264-entry line above is ~8 KB and always
    // arrived head-truncated, hence 15 rounds of `parsed: null`). Two
    // fixes together: (1) build.sbt now emits run stdout RAW, so this
    // line has no "[info] " sbt-logger prefix to break a JSON parse;
    // (2) the line carries the contract keys
    // metric/value/unit/queries/sf — "queries" holds the slowest
    // entries (ms precision) that fit a 1800-char budget alongside the
    // "[success] ..." epilogue sbt appends, and the omitted fast
    // remainder is reconciled by n_omitted/omitted_total_s
    // (sum(queries) + omitted_total_s == value). Every entry at full
    // precision: the first stdout line + bench_results.json, unchanged.
    def r3(v: Double): Double = math.round(v * 1000) / 1000.0
    val slowest = results.toSeq.sortBy { case (n2, v) => (-v, n2) }
    val head = s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":{"""
    // worst-case suffix reserved up front so appending it never overflows
    val reserve = s""""n_omitted":${results.size},"omitted_total_s":9999.999,"full_results":"$outPath"}""".length +
      s"""},"sf":"$sfDir","n_queries":${results.size},""".length
    val budget = 1800
    val included = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    var used = head.length
    slowest.foreach { case (k, v) =>
      val frag = (if (included.nonEmpty) "," else "") + "\"" + k + "\":" + r3(v)
      if (used + frag.length + reserve <= budget) { included += (k -> v); used += frag.length }
    }
    val qmap = included.map { case (k, v) => "\"" + k + "\":" + r3(v) }.mkString(",")
    val nOmitted = results.size - included.size
    val omittedS = r3(total - included.map(_._2).sum)
    println(head + qmap +
      s"""},"sf":"$sfDir","n_queries":${results.size},"n_omitted":$nOmitted,""" +
      s""""omitted_total_s":$omittedS,"full_results":"$outPath"}""")
    spark.stop()
  }
}
