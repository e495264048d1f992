package graft

import org.apache.spark.sql.SparkSession

/** The local session the Spark suites share. Every suite runs in one
  * forked JVM, so `getOrCreate` hands each suite the session the first
  * suite built: the master and static confs are fixed by whichever
  * suite ran first, and runtime confs persist from one suite into the
  * next. So each suite states its runtime confs in full when it first
  * touches `spark`: [[SharedSparkSession.baseConfs]] plus its own
  * [[sparkConfs]], which win. */
trait SharedSparkSession {

  /** Confs this suite adds to or overrides in the base set. */
  protected def sparkConfs: Map[String, String] = Map.empty

  /** Runs once, when this suite first touches `spark`. */
  protected def setUpSession(s: SparkSession): Unit = ()

  protected lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.ui.enabled", "false")
      .config(SharedSparkSession.baseConfs ++ sparkConfs)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    setUpSession(s)
    s
  }
}

object SharedSparkSession {
  val baseConfs: Map[String, String] = Map(
    "spark.sql.shuffle.partitions" -> "4",
    "spark.sql.session.timeZone" -> "UTC",
    // ScaleSpec turns broadcasting off and accepts subset-of-keys
    // co-partitioning; the plan assertions of every other suite assume
    // Spark's defaults
    "spark.sql.autoBroadcastJoinThreshold" -> "10485760",
    "spark.sql.requireAllClusterKeysForCoPartition" -> "true")
}
