package graft.examples

/** Dev utility: print the executed plan of one SparkEntry query.
  * usage: runMain graft.examples.PlanDump <queryName> [sfDir] */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    // the battery session Bench and Verify run, so the printed plan is
    // the plan they execute
    val spark = graft.GraftSession.local(8)
    val df = graft.SparkEntry.queries(name)(spark, dir)
    df.collect()
    println(df.queryExecution.executedPlan.toString)
    spark.stop()
  }
}
