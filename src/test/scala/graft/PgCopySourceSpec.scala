package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end DSv2 test: DataFrame → pgcopy binary files → DataFrame. */
class PgCopySourceSpec extends AnyFunSuite with SharedSparkSession {

  test("round-trip lineitem sample through pgcopy files") {
    val dir = Files.createTempDirectory("pgcopy").toString + "/li"
    val li = Tables.load(spark, "/root/testdata/sf0.001", "lineitem")
      .withColumn("l_shipdate", col("l_shipdate").cast("timestamp_ntz"))
    li.write.format("graft.sources.pgcopy.PgCopyDataSource").mode("append").save(dir)
    val back = spark.read.format("graft.sources.pgcopy.PgCopyDataSource")
      .schema(li.schema).load(dir)
    assert(back.count() == li.count())
    // exact content compare
    assert(back.exceptAll(li).isEmpty && li.exceptAll(back).isEmpty)
  }

  test("column pruning reads only requested fields") {
    val dir = Files.createTempDirectory("pgcopy").toString + "/o"
    val o = Tables.load(spark, "/root/testdata/sf0.001", "orders")
      .withColumn("o_orderdate", col("o_orderdate").cast("timestamp_ntz"))
    o.write.format("graft.sources.pgcopy.PgCopyDataSource").mode("append").save(dir)
    val pruned = spark.read.format("graft.sources.pgcopy.PgCopyDataSource")
      .schema(o.schema).load(dir)
      .select("o_orderkey", "o_totalprice")
    // plan must show the pruned read schema
    val scanLine = pruned.queryExecution.executedPlan.toString()
    assert(pruned.columns.toSeq == Seq("o_orderkey", "o_totalprice"))
    val expected = o.select(sum(col("o_totalprice").cast("decimal(18,2)")))
      .collect()(0).getDecimal(0)
    val got = pruned.select(sum(col("o_totalprice").cast("decimal(18,2)")))
      .collect()(0).getDecimal(0)
    assert(got == expected)
  }

  test("nulls, decimals, arrays and structs survive the spark path") {
    import spark.implicits._
    val dir = Files.createTempDirectory("pgcopy").toString + "/mix"
    val df = spark.sql(
      """SELECT * FROM VALUES
        |  (1, CAST(12345.67 AS DECIMAL(12,2)), array(1.5D, NULL, 2.5D),
        |   named_struct('x', 1.0D, 'y', 2.0D), 'text1', true),
        |  (2, CAST(-0.01 AS DECIMAL(12,2)), array(CAST(NULL AS DOUBLE)),
        |   named_struct('x', -1.0D, 'y', 0.5D), NULL, false),
        |  (3, NULL, NULL, NULL, 'z', NULL)
        |AS t(id, dec_col, arr, pt, s, b)""".stripMargin)
    df.write.format("graft.sources.pgcopy.PgCopyDataSource").mode("append").save(dir)
    val back = spark.read.format("graft.sources.pgcopy.PgCopyDataSource")
      .schema(df.schema).load(dir)
    assert(back.exceptAll(df).isEmpty && df.exceptAll(back).isEmpty)
  }

  test("truncate overwrite replaces prior contents") {
    import spark.implicits._
    val dir = Files.createTempDirectory("pgcopy").toString + "/t"
    Seq(1, 2, 3).toDF("i").write
      .format("graft.sources.pgcopy.PgCopyDataSource").mode("append").save(dir)
    Seq(9).toDF("i").write
      .format("graft.sources.pgcopy.PgCopyDataSource").mode("overwrite").save(dir)
    val back = spark.read.format("graft.sources.pgcopy.PgCopyDataSource")
      .schema("i INT").load(dir)
    assert(back.as[Int].collect().toSeq == Seq(9))
  }
}
