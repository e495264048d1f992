package graft

import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.unsafe.types.{CalendarInterval, UTF8String}
import org.scalatest.funsuite.AnyFunSuite

import graft.meta.InMemoryPg
import graft.types.PgType
import graft.types.PgType._

/** Connector-level type sweep — the Spark analogue of the reference's
  * attach_types_* test layer (ref: test/sql/storage/attach_types_*.test
  * and test/all_pg_types.sql): every type family goes server → wire →
  * Spark and, where Spark can express the type, back.
  */
class AllTypesSpec extends AnyFunSuite with SharedSparkSession {

  private val dsn = "mem:types"

  override protected def sparkConfs: Map[String, String] = Map(
    "spark.sql.shuffle.partitions" -> "2",
    "spark.sql.catalog.pgt" -> "graft.catalog.PostgresCatalog",
    "spark.sql.catalog.pgt.dsn" -> dsn)

  test("every readable type family arrives with the documented Spark type") {
    val pg = InMemoryPg.forName("types")
    val cols: Seq[(String, PgType)] = Seq(
      "c_bool" -> PgBool, "c_int2" -> PgInt2, "c_int4" -> PgInt4,
      "c_int8" -> PgInt8, "c_float4" -> PgFloat4, "c_float8" -> PgFloat8,
      "c_num" -> PgNumeric(12, 3), "c_text" -> PgText, "c_bp" -> PgBpchar(6),
      "c_json" -> PgJson, "c_jsonb" -> PgJsonb, "c_date" -> PgDate,
      "c_time" -> PgTime, "c_ts" -> PgTimestamp, "c_tstz" -> PgTimestampTz,
      "c_iv" -> PgInterval, "c_uuid" -> PgUuid, "c_bytes" -> PgBytea,
      "c_bit" -> PgBit, "c_arr" -> PgArray(PgInt4), "c_unknown" -> PgUnknown("macaddr"))
    if (!pg.hasTable("public", "alltypes")) {
      val t = pg.createTable("public", "alltypes", cols)
      t.slots += Some(new GenericInternalRow(Array[Any](
        true, 7.toShort, 42, 9999999999L, 1.25f, math.E,
        org.apache.spark.sql.types.Decimal(new java.math.BigDecimal("123456.789"), 12, 3),
        UTF8String.fromString("hello"), UTF8String.fromString("pad"),
        UTF8String.fromString("""{"j":1}"""), UTF8String.fromString("""{"b":2}"""),
        10957 + 9000, 3600000000L,
        codec.PgWire.TsEpochShiftMicros + 86400000000L,
        codec.PgWire.TsEpochShiftMicros,
        new CalendarInterval(13, 2, 999000L),
        UTF8String.fromString("123e4567-e89b-12d3-a456-426614174000"),
        Array[Byte](0, 1, 2), UTF8String.fromString("1010"),
        new GenericArrayData(Array[Any](1, null, 3)),
        UTF8String.fromString("08:00:2b:01:02:03"))))
      t.slots += Some({
        val r = new GenericInternalRow(cols.length) // all NULL row
        r
      })
    }

    val df = spark.table("pgt.public.alltypes")
    val expectTypes = Map(
      "c_bool" -> "boolean", "c_int2" -> "smallint", "c_int4" -> "int",
      "c_int8" -> "bigint", "c_float4" -> "float", "c_float8" -> "double",
      "c_num" -> "decimal(12,3)", "c_text" -> "string", "c_bp" -> "string",
      "c_json" -> "string", "c_jsonb" -> "string", "c_date" -> "date",
      "c_time" -> "bigint", "c_ts" -> "timestamp_ntz", "c_tstz" -> "timestamp",
      "c_iv" -> "interval", "c_uuid" -> "string", "c_bytes" -> "binary",
      "c_bit" -> "string", "c_arr" -> "array<int>", "c_unknown" -> "string")
    expectTypes.foreach { case (c, t) =>
      assert(df.schema(c).dataType.simpleString == t, s"column $c")
    }
    val rows = df.orderBy(org.apache.spark.sql.functions.col("c_bool").desc_nulls_last).collect()
    assert(rows.length == 2)
    val r = rows(0)
    assert(r.getAs[Boolean]("c_bool"))
    assert(r.getAs[java.math.BigDecimal]("c_num").toString == "123456.789")
    assert(r.getAs[String]("c_uuid") == "123e4567-e89b-12d3-a456-426614174000")
    assert(r.getAs[String]("c_jsonb") == """{"b":2}""")
    assert(r.getAs[java.sql.Date]("c_date").toString == "2024-08-22") // epoch day 19957
    assert(r.getAs[Long]("c_time") == 3600000000L)
    assert(r.getAs[scala.collection.Seq[Any]]("c_arr") == scala.collection.Seq(1, null, 3))
    assert(r.getAs[String]("c_bit") == "1010")
    assert(r.getAs[String]("c_unknown") == "08:00:2b:01:02:03")
    val nullRow = rows(1)
    (0 until nullRow.length).foreach(i => assert(nullRow.isNullAt(i), s"col $i"))
  }

  test("writable types round-trip through the connector") {
    val pg = InMemoryPg.forName("types")
    spark.sql("DROP TABLE IF EXISTS pgt.public.wt")
    spark.sql(
      """CREATE TABLE pgt.public.wt (
        |  b BOOLEAN, s SMALLINT, i INT, l BIGINT, f FLOAT, d DOUBLE,
        |  de DECIMAL(10,2), st STRING, bin BINARY, dt DATE,
        |  ts TIMESTAMP_NTZ, a ARRAY<BIGINT>)""".stripMargin)
    spark.sql(
      """INSERT INTO pgt.public.wt VALUES
        |  (true, 1S, 2, 3L, 1.5F, 2.5D, 12.34, 'x', X'0102', DATE'2020-02-29',
        |   TIMESTAMP_NTZ'2020-02-29 12:00:00', array(1L, NULL, 3L)),
        |  (NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL)""".stripMargin)
    val back = spark.sql("SELECT * FROM pgt.public.wt ORDER BY b DESC NULLS LAST").collect()
    assert(back.length == 2)
    val r = back(0)
    assert(r.getAs[Boolean]("b") && r.getAs[Short]("s") == 1 &&
      r.getAs[Long]("l") == 3L)
    assert(r.getAs[java.math.BigDecimal]("de").toString == "12.34")
    assert(r.getAs[Array[Byte]]("bin").toSeq == Seq[Byte](1, 2))
    assert(r.getAs[java.sql.Date]("dt").toString == "2020-02-29")
    assert(r.getAs[scala.collection.Seq[Any]]("a") == scala.collection.Seq(1L, null, 3L))
    assert((0 until back(1).length).forall(back(1).isNullAt))
  }

  test("enum discovery surfaces labels and the column round-trips") {
    val pg = InMemoryPg.forName("types")
    pg.execute("""CREATE TYPE "mood" AS ENUM ('sad', 'ok', 'happy')""")
    pg.execute("""CREATE TABLE "public"."moods" ("id" BIGINT, "m" "mood")""")
    // discovery resolves the enum with its labels, not PgUnknown
    val tbl = graft.sources.postgres.PostgresTable.discover(
      graft.sources.postgres.PostgresOptions(Map("dsn" -> dsn, "table" -> "moods")))
    assert(tbl.pgColumns.find(_._1 == "m").get._2 ==
      PgEnum("mood", Seq("sad", "ok", "happy")))
    import spark.implicits._
    Seq((1L, "happy"), (2L, "sad"), (3L, null)).toDF("id", "m")
      .write.format("postgres")
      .option("dsn", dsn).option("table", "moods").mode("append").save()
    val back = spark.read.format("postgres")
      .option("dsn", dsn).option("table", "moods").load()
      .orderBy("id").collect()
    assert(back.map(r => if (r.isNullAt(1)) null else r.getString(1)).toSeq ==
      Seq("happy", "sad", null))
  }

  test("composite discovery surfaces fields and the column round-trips") {
    val pg = InMemoryPg.forName("types")
    pg.execute("""CREATE TYPE "pt" AS ("x" DOUBLE PRECISION, "lbl" VARCHAR)""")
    pg.execute("""CREATE TABLE "public"."points" ("id" BIGINT, "p" "pt")""")
    val df = spark.read.format("postgres")
      .option("dsn", dsn).option("table", "points").load()
    assert(df.schema("p").dataType.simpleString == "struct<x:double,lbl:string>")
    import org.apache.spark.sql.functions.{col, lit, struct}
    import spark.implicits._
    Seq((1L, 2.5, "a"), (2L, -0.5, "b")).toDF("id", "x", "lbl")
      .select(col("id"), struct(col("x").as("x"), col("lbl").as("lbl")).as("p"))
      .write.format("postgres")
      .option("dsn", dsn).option("table", "points").mode("append").save()
    val back = spark.read.format("postgres")
      .option("dsn", dsn).option("table", "points").load()
      .orderBy("id").collect()
    val p0 = back(0).getStruct(1)
    assert(p0.getDouble(0) == 2.5 && p0.getString(1) == "a")
    val p1 = back(1).getStruct(1)
    assert(p1.getDouble(0) == -0.5 && p1.getString(1) == "b")
  }

  test("multi-dimensional and enum arrays round-trip (text COPY path)") {
    val pg = InMemoryPg.forName("types")
    pg.execute("""CREATE TABLE "public"."mdarr" ("id" BIGINT, "m" BIGINT[][], "e" "mood"[])""")
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    Seq(
      (1L, Seq(Seq(1L, 2L), Seq(3L, 4L)), Seq("happy", "sad")),
      (2L, Seq(Seq(9L)), Seq[String]()),
      (3L, null.asInstanceOf[Seq[Seq[Long]]], null.asInstanceOf[Seq[String]]),
    ).toDF("id", "m", "e")
      .write.format("postgres")
      .option("dsn", dsn).option("table", "mdarr").mode("append").save()
    val back = spark.read.format("postgres")
      .option("dsn", dsn).option("table", "mdarr").load()
      .orderBy("id").collect()
    assert(back(0).getSeq[scala.collection.Seq[Long]](1).map(_.toSeq) ==
      Seq(Seq(1L, 2L), Seq(3L, 4L)))
    assert(back(0).getSeq[String](2) == Seq("happy", "sad"))
    assert(back(1).getSeq[scala.collection.Seq[Long]](1).map(_.toSeq) == Seq(Seq(9L)))
    assert(back(1).getSeq[String](2) == Seq())
    assert(back(2).isNullAt(1) && back(2).isNullAt(2))
  }

  test("array elements with quoting hazards round-trip via text COPY") {
    val pg = InMemoryPg.forName("types")
    pg.execute("""CREATE TABLE "public"."qarr" ("id" BIGINT, "a" VARCHAR[], "u" "mood")""")
    import spark.implicits._
    // the mood column forces the text format for the whole table, so
    // the varchar array crosses the array-literal quoting path
    val tricky = Seq("plain", "has space", "has,comma", "has\"quote", "has\\back",
      "{braces}", "NULL", "")
    Seq((1L, tricky, "ok")).toDF("id", "a", "u")
      .write.format("postgres")
      .option("dsn", dsn).option("table", "qarr").mode("append").save()
    val back = spark.read.format("postgres")
      .option("dsn", dsn).option("table", "qarr").load()
      .orderBy("id").collect()
    assert(back(0).getSeq[String](1) == tricky)
  }

  test("timetz columns round-trip as canonical text literals") {
    val pg = InMemoryPg.forName("types")
    pg.execute("""CREATE TABLE "public"."ttz" ("id" BIGINT, "t" TIME WITH TIME ZONE)""")
    import spark.implicits._
    val vals = Seq("12:34:56.123456+05:30", "00:00:00+00", "23:59:59-08")
    vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "t")
      .write.format("postgres")
      .option("dsn", dsn).option("table", "ttz").mode("append").save()
    val back = spark.read.format("postgres")
      .option("dsn", dsn).option("table", "ttz").load()
      .orderBy("id").collect().map(_.getString(1)).toSeq
    assert(back == vals)
  }

  test("geometry survives the forced-text path when mixed with an enum") {
    val pg = InMemoryPg.forName("types")
    pg.execute("""CREATE TABLE "public"."geo" ("id" BIGINT, "p" POINT, "m" "mood")""")
    import org.apache.spark.sql.functions.{col, struct, lit}
    import spark.implicits._
    Seq((1L, 2.5, -0.5, "ok"), (2L, 0.0, 9.25, "sad")).toDF("id", "x", "y", "m")
      .select(col("id"), struct(col("x").as("x"), col("y").as("y")).as("p"), col("m"))
      .write.format("postgres")
      .option("dsn", dsn).option("table", "geo").mode("append").save()
    val back = spark.read.format("postgres")
      .option("dsn", dsn).option("table", "geo").load()
      .orderBy("id").collect()
    val p0 = back(0).getStruct(1)
    assert(p0.getDouble(0) == 2.5 && p0.getDouble(1) == -0.5)
    assert(back(1).getStruct(1).getDouble(1) == 9.25)
    assert(back(1).getString(2) == "sad")
  }

  test("interval text literals round-trip through the endpoint's COPY text path") {
    // Spark refuses CalendarIntervalType in DSv2 write schemas, so the
    // DataFrame writer can never reach this path — but the endpoint's
    // own text renderer serves intervals for ::VARCHAR casts, and its
    // COPY-text input must parse the same form back (symmetry check).
    val pg = InMemoryPg.forName("types")
    pg.execute("""CREATE TABLE "public"."iv" ("id" BIGINT, "dur" INTERVAL)""")
    val t = pg.getTable("public", "iv")
    val w = new graft.codec.PgTextWriter(t.colTypes)
    val durs = Seq(
      new CalendarInterval(2, 3, 4500000L),
      new CalendarInterval(-1, 0, 90061000001L),
      new CalendarInterval(0, 0, 0L))
    durs.zipWithIndex.foreach { case (d, i) =>
      val row = new GenericInternalRow(Array[Any](i.toLong, d))
      val out = pg.copyIn("""COPY "public"."iv" ("id", "dur") FROM STDIN (FORMAT text)""")
      out.write((w.rowText(row) + "\n").getBytes("UTF-8")); out.close()
      val stored = t.slots.last.get
        .get(1, org.apache.spark.sql.types.CalendarIntervalType)
        .asInstanceOf[CalendarInterval]
      assert(stored == d, s"interval $d came back as $stored")
    }
  }
}
