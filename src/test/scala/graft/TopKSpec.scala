package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.functions.TopKFunctions

class TopKSpec extends AnyFunSuite with SharedSparkSession {

  override protected def setUpSession(s: SparkSession): Unit = TopKFunctions.register(s)

  test("topk_by matches row_number window selection and order, with ties") {
    import spark.implicits._
    // scores drawn from a tiny set so duplicate scores are common —
    // the id tie-break must decide identically in both forms
    val gen = for {
      g <- Gen.choose(0, 5)
      id <- Gen.choose(0L, 10000L)
      s <- Gen.oneOf(0.1, 0.2, 0.3, 0.4, 0.5)
    } yield (g, id, s)
    val rows = (0 until 4000).flatMap(i =>
      gen.apply(Gen.Parameters.default, Seed(i.toLong)))
      .distinct // (g, id) must be unique like (query, neighbor) pairs
      .groupBy(r => (r._1, r._2)).map(_._2.head).toSeq
    val df = rows.toDF("g", "id", "score")

    val w = Window.partitionBy($"g").orderBy($"score".desc, $"id".asc)
    val expected = df.withColumn("rank", row_number().over(w))
      .filter($"rank" <= 7)
      .select($"g", $"id", $"rank", $"score")
      .orderBy($"g", $"rank")
      .collect().toSeq

    val got = df.groupBy($"g")
      .agg(TopKFunctions.topk_by($"score", $"id", 7).as("top"))
      .select($"g", posexplode($"top").as(Seq("i", "p")))
      .select($"g", $"p.id".as("id"), ($"i" + 1).cast("int").as("rank"),
        $"p.score".as("score"))
      .orderBy($"g", $"rank")
      .collect().toSeq

    assert(got == expected)
  }

  test("topk_by with fewer rows than k returns all, ordered") {
    import spark.implicits._
    val df = Seq((1, 10L, 2.0), (1, 11L, 3.0), (2, 12L, 1.0)).toDF("g", "id", "score")
    val got = df.groupBy($"g")
      .agg(TopKFunctions.topk_by($"score", $"id", 5).as("top"))
      .select($"g", $"top")
      .orderBy($"g")
      .collect()
      .map(r => (r.getInt(0), r.getSeq[org.apache.spark.sql.Row](1)
        .map(p => (p.getDouble(0), p.getLong(1)))))
      .toSeq
    assert(got == Seq(1 -> Seq((3.0, 11L), (2.0, 10L)), 2 -> Seq((1.0, 12L))))
  }

  test("topk_by ignores null scores") {
    import spark.implicits._
    val df = Seq((1, Some(2.0), 10L), (1, None, 11L), (1, Some(4.0), 12L))
      .toDF("g", "score", "id")
    val got = df.groupBy($"g")
      .agg(TopKFunctions.topk_by($"score", $"id", 2).as("top"))
      .select(explode($"top").as("p")).select($"p.id")
      .collect().map(_.getLong(0)).toSeq
    assert(got == Seq(12L, 10L))
  }

  test("topk_by orders NaN like Spark's window sort (NaN ranks first)") {
    import spark.implicits._
    val df = Seq((1, 10L, 1.0), (1, 11L, Double.NaN), (1, 12L, 2.0), (1, 13L, Double.NaN))
      .toDF("g", "id", "score")
    val w = Window.partitionBy($"g").orderBy($"score".desc, $"id".asc)
    val expected = df.withColumn("rank", row_number().over(w))
      .filter($"rank" <= 3).orderBy($"rank")
      .select($"id").collect().map(_.getLong(0)).toSeq
    val got = df.groupBy($"g")
      .agg(TopKFunctions.topk_by($"score", $"id", 3).as("top"))
      .select(explode($"top.id").as("id"))
      .collect().map(_.getLong(0)).toSeq
    assert(got == expected)
  }
}
