package graft.examples

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Builds the 10× scale-checkpoint dataset BENCH_NOTES.md cites
  * (default `/tmp/sf1` from `/root/testdata/sf0.1`).
  *
  * Construction: fact tables are replicated `factor` times with their
  * primary keys offset per replica (so joins fan out, not collapse);
  * dimension tables are shared, exactly as a real star schema scales.
  * `events` offsets `user_id` too, so the user population grows with
  * the data (sessionization work scales linearly instead of piling
  * 10 replicas onto one user's timeline). `documents` text is copied
  * verbatim — the resulting 10-member duplicate groups are what makes
  * the p08/p13 rows a WORST-CASE near-dup probe (quadratic pair
  * output), which BENCH_NOTES calls out when reading those rows.
  * Output is repartitioned so every table carries multiple row
  * groups — unlike the single-row-group driver files, these scans
  * split across tasks the way real cluster files do.
  *
  * Usage: runMain graft.examples.Sf1Build [srcDir dstDir factor]
  */
object Sf1Build {

  private val dims = Seq("region", "nation", "customer", "supplier", "part")

  /** key column -> per-replica offset stride, for each fact table */
  private val facts: Map[String, Seq[(String, Long)]] = Map(
    "orders" -> Seq("o_orderkey" -> 10000000L),
    "lineitem" -> Seq("l_orderkey" -> 10000000L),
    "events" -> Seq("event_id" -> 1000000000L, "user_id" -> 10000000L),
    "documents" -> Seq("doc_id" -> 10000000L),
    "embeddings" -> Seq("vec_id" -> 10000000L))

  def replicate(df: DataFrame, offsets: Seq[(String, Long)], factor: Int): DataFrame =
    (0 until factor).map { i =>
      offsets.foldLeft(df) { case (d, (key, stride)) =>
        d.withColumn(key, col(key) + lit(i * stride))
      }
    }.reduce(_.unionAll(_))

  def main(args: Array[String]): Unit = {
    val src = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val dst = if (args.length > 1) args(1) else "/tmp/sf1"
    val factor = if (args.length > 2) args(2).toInt else 10
    val spark = graft.GraftSession.local(32)
    dims.foreach { t =>
      spark.read.parquet(s"$src/$t.parquet")
        .coalesce(1).write.mode("overwrite").parquet(s"$dst/$t.parquet")
    }
    facts.foreach { case (t, offsets) =>
      val base = spark.read.parquet(s"$src/$t.parquet")
      replicate(base, offsets, factor)
        .repartition(32).write.mode("overwrite").parquet(s"$dst/$t.parquet")
      println(s"[sf1] $t x$factor")
    }
    spark.stop()
  }
}
