package graft

import org.apache.spark.sql.SparkSession

/** The one local session the battery mains (`Bench`, `Verify`,
  * `PlanDump`, `CorpusBuild`, `Sf1Build`) build on, so every one of
  * them plans and runs a query under the same confs: the plan
  * `PlanDump` prints is the plan `Bench` times and `Verify` checks. */
object GraftSession {

  /** Whole-stage-codegen cache size. The static default (100 entries)
    * thrashes under a 264-query battery: every entry's codegen units
    * evict earlier ones, so the steady state recompiles (Janino) what
    * it compiled minutes ago and leaks one classloader per recompile
    * into the metaspace/GC budget. 4096 comfortably holds the
    * battery's units. */
  val CodegenCacheEntries = 4096

  /** `local[cpus]` with `cpus` shuffle partitions, AQE and partition
    * coalescing on, UTC session time, no UI, the sized codegen cache,
    * subset-of-join-keys co-partitioning, and log level WARN. */
  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      // accept subset-of-join-keys co-partitioning: a user repartition
      // on l_orderkey alone then serves BOTH the (orderkey, linenumber)
      // self-join and the downstream orders join — without this the
      // planner re-exchanges the full joined fact (q80/c69's 120M-row
      // shuffle at sf10). Spark's default=true guards against subset
      // skew; our subset keys are the high-cardinality halves.
      .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // codegen.cache.maxEntries is a STATIC conf: it only takes effect if
    // this builder created the first session in the JVM. Read back the
    // effective value so a silently-ignored setting (numbers regressing
    // to cache=100 thrash) is visible in the run log, not invisible.
    val effectiveCache =
      try spark.conf.get("spark.sql.codegen.cache.maxEntries") catch { case _: Throwable => "unset" }
    if (effectiveCache != CodegenCacheEntries.toString)
      System.err.println(s"GRAFT WARN static codegen cache conf ignored: " +
        s"requested=$CodegenCacheEntries effective=$effectiveCache " +
        "(another SparkSession existed first in this JVM)")
    spark
  }
}
