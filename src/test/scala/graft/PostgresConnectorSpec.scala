package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.meta.InMemoryPg
import graft.functions.PgFunctions
import graft.types.PgType._

/** End-to-end connector tests against the offline InMemoryPg endpoint:
  * catalog SQL, parallel ctid-range scans, pushdown, count(*) pruning,
  * writes, DDL, ctid metadata column and batched DELETE. */
class PostgresConnectorSpec extends AnyFunSuite {

  private val dsn = "mem:spec"

  private lazy val spark = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.catalog.pg", "graft.catalog.PostgresCatalog")
      .config("spark.sql.catalog.pg.dsn", dsn)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private lazy val pg: InMemoryPg = {
    val p = InMemoryPg.forName("spec")
    if (!p.hasTable("public", "people")) {
      val t = p.createTable("public", "people", Seq(
        "id" -> PgInt8, "name" -> PgVarchar, "score" -> PgNumeric(10, 2)))
      // 300 rows → 5 pages of 64 → multiple ctid-range scan tasks
      val w = new graft.codec.PgBinaryWriter(t.colTypes)
      (0 until 300).foreach { i =>
        t.slots += Some(new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](i.toLong,
            org.apache.spark.unsafe.types.UTF8String.fromString(s"name_$i"),
            org.apache.spark.sql.types.Decimal(new java.math.BigDecimal(i).movePointLeft(1).setScale(2), 10, 2))))
      }
    }
    p
  }

  test("format(postgres): schema inference + full scan") {
    pg
    val df = spark.read.format("postgres")
      .option("dsn", dsn).option("table", "people").load()
    assert(df.columns.toSeq == Seq("id", "name", "score"))
    assert(df.schema("score").dataType.simpleString == "decimal(10,2)")
    assert(df.count() == 300)
  }

  test("vectorized read: columnar batches engage, match the row reader exactly") {
    pg
    def read(vec: Boolean) = spark.read.format("postgres")
      .option("dsn", dsn).option("table", "people")
      .option("vectorizedRead", vec.toString).load()
    val vecDf = read(true)
    // the columnar path is live: Spark inserts ColumnarToRow above the
    // batch scan only when supportColumnarReads said yes
    assert(vecDf.queryExecution.executedPlan.toString.contains("ColumnarToRow"),
      "vectorized scan did not take the columnar path")
    assert(!read(false).queryExecution.executedPlan.toString.contains("ColumnarToRow"),
      "vectorizedRead=false must force the row reader")
    // bit-identical results across both decoders, all 300 rows
    val a = vecDf.orderBy("id").collect().toSeq
    val b = read(false).orderBy("id").collect().toSeq
    assert(a == b)
    assert(a.length == 300)
    // NULL handling + filters through the columnar decode
    val f = vecDf.where(col("id") >= 290).orderBy("id")
      .collect().map(_.getString(1)).toSeq
    assert(f == (290 until 300).map(i => s"name_$i"))
  }

  test("vectorized read: exotic projections fall back to the row reader") {
    val p = graft.meta.InMemoryPg.forName("vecfall")
    if (!p.hasTable("public", "witharr")) {
      val t = p.createTable("public", "witharr", Seq(
        "id" -> PgInt8, "tags" -> PgArray(PgInt4, 1, 1007)))
      (0 until 5).foreach { i =>
        t.slots += Some(new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](i.toLong,
            new org.apache.spark.sql.catalyst.util.GenericArrayData(Array[Any](i, i + 1)))))
      }
    }
    val df = spark.read.format("postgres")
      .option("dsn", "mem:vecfall").option("table", "witharr").load()
    // an array column disqualifies the whole scan from columnar
    assert(!df.queryExecution.executedPlan.toString.contains("ColumnarToRow"))
    assert(df.count() == 5)
    // but pruning the projection down to flat types re-enables it
    val flat = df.select("id")
    assert(flat.queryExecution.executedPlan.toString.contains("ColumnarToRow"))
    assert(flat.collect().map(_.getLong(0)).sorted.toSeq == (0L until 5L))
  }

  test("parallel ctid ranges cover all pages exactly once") {
    pg
    val df = spark.read.format("postgres")
      .option("dsn", dsn).option("table", "people")
      .option("pagesPerTask", "2").load() // 5 pages → 3 tasks
    assert(df.select(countDistinct(col("id"))).head.getLong(0) == 300)
    assert(df.count() == 300)
    val parts = df.rdd.getNumPartitions
    assert(parts == 3, s"expected 3 ctid-range partitions, got $parts")
  }

  test("filter + projection pushdown shape") {
    pg
    val df = spark.read.format("postgres")
      .option("dsn", dsn).option("table", "people").load()
      .filter(col("id") < 10 && col("name").startsWith("name_"))
      .select("id", "name")
    val rows = df.collect()
    assert(rows.length == 10)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") || df.count() == 10)
  }

  test("pushed OR / NOT / nested boolean filters return exact results") {
    pg
    def people = spark.read.format("postgres")
      .option("dsn", dsn).option("table", "people").load()
    // regression: an OR on an exact-typed column is marked fully pushed
    // (no Spark residual), so the remote evaluator must bind it — a
    // mis-parse used to swallow `' OR '` into one bogus literal and
    // return zero rows
    assert(people.filter(col("id") === 3 || col("id") === 7).count() == 2)
    // OR over strings keeps the host residual, but the served superset
    // must still contain the matches
    assert(people.filter(col("name") === "name_3" || col("name") === "name_7")
      .count() == 2)
    // nested boolean tree: (a AND b) OR (a AND b)
    assert(people.filter(
      (col("id") < 5 && col("name") === "name_3") ||
        (col("id") > 290 && col("name") === "name_295")).count() == 2)
    // NOT stays a host residual (3-valued NOT; unbound remotely)
    assert(people.filter(col("id") =!= 0).count() == 299)
    // self-join of one catalog table with an OR-paired cross condition
    val n = spark.sql(
      """SELECT a.id FROM pg.public.people a, pg.public.people b
        |WHERE (a.id = 1 AND b.id = 2) OR (a.id = 2 AND b.id = 1)""".stripMargin)
    assert(n.count() == 2)
  }

  test("property: random pushed filter trees return exactly the host-side rows") {
    pg
    // the OR-binding regression class: any boolean tree the connector
    // pushes must yield the same rows the same predicate selects on the
    // unfiltered data, regardless of how the remote evaluator binds it
    // (bound exactly, bound partially, or served as a superset with a
    // host residual)
    val base = spark.read.format("postgres")
      .option("dsn", dsn).option("table", "people").load()
    val all = base.collect().toSet
    val rnd = new scala.util.Random(20260813L)
    def leaf(): org.apache.spark.sql.Column = rnd.nextInt(6) match {
      case 0 => col("id") === rnd.nextInt(320)
      case 1 => col("id") < rnd.nextInt(320)
      case 2 => col("id") >= rnd.nextInt(320)
      case 3 => col("name") === s"name_${rnd.nextInt(320)}"
      case 4 => col("score") > new java.math.BigDecimal(rnd.nextInt(3200)).movePointLeft(1).doubleValue()
      case 5 => col("name").startsWith(s"name_${rnd.nextInt(10)}")
    }
    def tree(depth: Int): org.apache.spark.sql.Column =
      if (depth == 0) leaf()
      else rnd.nextInt(4) match {
        case 0 => tree(depth - 1) && tree(depth - 1)
        case 1 => tree(depth - 1) || tree(depth - 1)
        case 2 => !tree(depth - 1)
        case _ => leaf()
      }
    // reference relation: the same rows materialized OUTSIDE the
    // connector, so Spark evaluates every predicate itself
    val local = spark.createDataFrame(
      spark.sparkContext.parallelize(all.toSeq, 4), base.schema).cache()
    (1 to 40).foreach { i =>
      val pred = tree(2 + rnd.nextInt(2))
      val viaConnector = base.filter(pred).collect().toSet
      val viaSpark = local.filter(pred).collect().toSet
      assert(viaConnector == viaSpark, s"tree #$i: $pred")
    }
    local.unpersist()
  }

  test("case-sensitive and keyword identifiers round-trip through the catalog") {
    // ref: attach_case_sensitive_tables/columns.test, attach_keywords
    // .test — mixed-case names and reserved words must stay quoted on
    // every generated statement (DDL, COPY, pushdown WHERE)
    pg
    spark.sql("""CREATE TABLE pg.public.`CaseTable` (`CamelCol` BIGINT, `select` STRING)""")
    import spark.implicits._
    Seq((1L, "a"), (2L, "b"), (3L, "order by")).toDF("CamelCol", "select")
      .writeTo("pg.public.`CaseTable`").append()
    val back = spark.sql(
      """SELECT `CamelCol`, `select` FROM pg.public.`CaseTable`
        |WHERE `CamelCol` >= 2 ORDER BY `CamelCol`""".stripMargin).collect()
    assert(back.map(_.getLong(0)).toSeq == Seq(2L, 3L))
    assert(back.map(_.getString(1)).toSeq == Seq("b", "order by"))
    spark.sql("DROP TABLE pg.public.`CaseTable`")
  }

  test("count(*) prunes to NULL projection") {
    pg
    val n = spark.read.format("postgres")
      .option("dsn", dsn).option("table", "people").load().count()
    assert(n == 300)
  }

  test("query option: single-partition subquery scan") {
    pg
    val df = PgFunctions.postgresQuery(spark, dsn, "SELECT * FROM public.people")
    assert(df.count() == 300)
    assert(df.rdd.getNumPartitions == 1)
  }

  test("query option: arbitrary SQL binds via the Describe handshake") {
    pg
    // projection + alias + filter
    val proj = PgFunctions.postgresQuery(spark, dsn,
      "SELECT id AS k, name FROM public.people WHERE id < 5")
    assert(proj.columns.toSeq == Seq("k", "name"))
    assert(proj.collect().map(_.getLong(0)).sorted.toSeq == (0L until 5L))
    // aggregate shape: count/min/max/sum with GROUP BY, typed like PG
    val agg = PgFunctions.postgresQuery(spark, dsn,
      "SELECT count(*) AS n, min(name) AS mn, max(score) AS mx FROM public.people")
    val r = agg.head()
    assert(agg.schema("n").dataType.simpleString == "bigint")
    assert(agg.schema("mx").dataType.simpleString == "decimal(10,2)")
    assert(r.getLong(0) == 300)
    assert(r.getString(1) == "name_0")
    assert(r.getDecimal(2) == new java.math.BigDecimal("29.90"))
    // ORDER BY + LIMIT survive into the bound shape
    val top = PgFunctions.postgresQuery(spark, dsn,
      "SELECT id, name FROM public.people ORDER BY id DESC LIMIT 3")
    assert(top.collect().map(_.getLong(0)).sorted.toSeq == Seq(297L, 298L, 299L))
  }

  test("catalog: list/load/insert/select through pg.* identifiers") {
    pg
    assert(spark.sql("SHOW NAMESPACES IN pg").collect().map(_.getString(0)).contains("public"))
    assert(spark.sql("SHOW TABLES IN pg.public").collect().map(_.getString(1)).contains("people"))
    val top = spark.sql(
      "SELECT name FROM pg.public.people WHERE id >= 295 ORDER BY id")
    assert(top.collect().map(_.getString(0)).toSeq ==
      (295 until 300).map(i => s"name_$i"))
  }

  test("boolean literals accept PG's spellings case-insensitively; garbage rejects") {
    val p = graft.meta.InMemoryPg.forName("boolspec")
    val t = graft.meta.PgTransportFactory.open("mem:boolspec")
    try {
      t.execute("""CREATE TABLE "public"."bools" ("i" INTEGER, "b" BOOLEAN)""")
      t.execute("""INSERT INTO "public"."bools" VALUES """ +
        "(1, TRUE), (2, 'True'), (3, 'yes'), (4, '1'), (5, 'on'), " +
        "(6, 'f'), (7, 'NO'), (8, 'off'), (9, '0'), (10, false)")
      val vals = p.getTable("public", "bools").slots.flatten
        .map(r => (r.getInt(0), r.getBoolean(1))).toSeq.sorted
      assert(vals == Seq(1 -> true, 2 -> true, 3 -> true, 4 -> true,
        5 -> true, 6 -> false, 7 -> false, 8 -> false, 9 -> false,
        10 -> false))
      // bool.c's unique-prefix forms ('tr', 'fal', 'of', ...) parse too
      t.execute("""INSERT INTO "public"."bools" VALUES """ +
        "(11, 'tr'), (12, 'fal'), (13, 'of'), (14, 'ye'), (15, 'tru')")
      val pre = p.getTable("public", "bools").slots.flatten
        .map(r => (r.getInt(0), r.getBoolean(1))).toSeq.filter(_._1 > 10).sorted
      assert(pre == Seq(11 -> true, 12 -> false, 13 -> false,
        14 -> true, 15 -> true))
      // unrecognized spellings are a 22P02 input-syntax error, never a
      // silent false
      val bad = intercept[Exception](
        t.execute("""INSERT INTO "public"."bools" VALUES (16, 'maybe')"""))
      assert(bad.getMessage.contains("invalid input syntax"),
        s"got: ${bad.getMessage}")
      // bare 'o' is ambiguous between on/off — rejected like bool.c
      val amb = intercept[Exception](
        t.execute("""INSERT INTO "public"."bools" VALUES (17, 'o')"""))
      assert(amb.getMessage.contains("invalid input syntax"),
        s"got: ${amb.getMessage}")
    } finally t.close()
  }

  test("pg_temp namespace: create, insert, query, drop round-trip") {
    // the reference's attach_temporary_table.test surface (upstream
    // marks its own test `mode skip`): temp tables created and
    // resolved through the attached catalog's pg_temp namespace.
    // CREATE routes to CREATE TEMPORARY TABLE; reads/writes resolve
    // "pg_temp"."t" like any schema-qualified table.
    pg
    assert(spark.sql("SHOW NAMESPACES IN pg").collect()
      .map(_.getString(0)).contains("pg_temp"))
    spark.sql("DROP TABLE IF EXISTS pg.pg_temp.session_scratch")
    spark.sql("CREATE TABLE pg.pg_temp.session_scratch (k BIGINT, v STRING)")
    assert(pg.hasTable("pg_temp", "session_scratch"))
    // the DDL that reached the endpoint must be the TEMPORARY form
    assert(pg.executedStatements.exists(_.startsWith(
      """CREATE TEMPORARY TABLE "session_scratch"""")))
    spark.sql("INSERT INTO pg.pg_temp.session_scratch VALUES (1, 'a'), (2, 'b')")
    val back = spark.sql(
      "SELECT k, v FROM pg.pg_temp.session_scratch ORDER BY k").collect()
    assert(back.map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "a"), (2L, "b")))
    // joins against permanent tables resolve both namespaces
    val j = spark.sql(
      """SELECT p.name FROM pg.public.people p
        |JOIN pg.pg_temp.session_scratch t ON p.id = t.k ORDER BY p.id""".stripMargin)
    assert(j.collect().map(_.getString(0)).toSeq == Seq("name_1", "name_2"))
    spark.sql("DROP TABLE pg.pg_temp.session_scratch")
    assert(!pg.hasTable("pg_temp", "session_scratch"))
  }

  test("pg_temp over a wire DSN: round-trip inside withTransaction, fail-fast outside") {
    val backend = graft.meta.InMemoryPg.forName("tmpwire")
    val srv = new graft.meta.PgWireServer(backend)
    val tdsn = srv.dsn()
    spark.conf.set("spark.sql.catalog.pgtw", "graft.catalog.PostgresCatalog")
    spark.conf.set("spark.sql.catalog.pgtw.dsn", tdsn)
    // outside a session block the namespace still fails fast with the
    // withTransaction pointer (a pooled catalog has no session affinity)
    val e = intercept[Exception](
      spark.sql("CREATE TABLE pgtw.pg_temp.scratch (k BIGINT, v STRING)"))
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(5)
        .map(x => Option(x.getMessage).getOrElse("")).toSeq
    assert(chain(e).exists(_.contains("withTransaction")), s"got: ${chain(e)}")
    // inside the block: DDL/insert/scan/drop all route on the pinned
    // session connection
    graft.functions.PgFunctions.withTransaction(tdsn) { _ =>
      spark.sql("CREATE TABLE pgtw.pg_temp.scratch (k BIGINT, v STRING)")
      assert(backend.hasTable("pg_temp", "scratch"))
      spark.sql("INSERT INTO pgtw.pg_temp.scratch VALUES (1, 'a'), (2, 'b'), (3, 'c')")
      val back = spark.sql(
        "SELECT k, v FROM pgtw.pg_temp.scratch ORDER BY k").collect()
      assert(back.map(r => (r.getLong(0), r.getString(1))).toSeq ==
        Seq((1L, "a"), (2L, "b"), (3L, "c")))
      // column pruning reaches the driver-side COPY
      assert(spark.sql("SELECT v FROM pgtw.pg_temp.scratch WHERE k = 2")
        .collect().map(_.getString(0)).toSeq == Seq("b"))
      assert(spark.sql("SHOW TABLES IN pgtw.pg_temp").collect()
        .map(_.getString(1)).contains("scratch"))
      spark.sql("DROP TABLE pgtw.pg_temp.scratch")
      assert(!backend.hasTable("pg_temp", "scratch"))
    }
    // the block ended: the pinned session is gone, back to fail-fast
    val e2 = intercept[Exception](
      spark.sql("CREATE TABLE pgtw.pg_temp.late (k BIGINT)"))
    assert(chain(e2).exists(_.contains("withTransaction")))
    srv.close()
  }

  test("pg_temp wire payloads over pgTempMaxBytes fail with the staged-write pointer") {
    val backend = graft.meta.InMemoryPg.forName("tmpcap")
    val srv = new graft.meta.PgWireServer(backend)
    val tdsn = srv.dsn()
    spark.conf.set("spark.sql.catalog.pgtc", "graft.catalog.PostgresCatalog")
    spark.conf.set("spark.sql.catalog.pgtc.dsn", tdsn)
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(8)
        .map(x => Option(x.getMessage).getOrElse("")).toSeq
    graft.functions.PgFunctions.withTransaction(tdsn) { _ =>
      spark.sql("CREATE TABLE pgtc.pg_temp.capped (k BIGINT, v STRING)")
      // write side: an oversized task payload fails IN the task with
      // the actionable message, before any commit message ships
      val big = spark.range(0, 200).selectExpr("id AS k", "repeat('x', 64) AS v")
      val we = intercept[Exception](
        big.writeTo("pgtc.pg_temp.capped").option("pgTempMaxBytes", "256").append())
      assert(chain(we).exists(m => m.contains("pgTempMaxBytes") &&
        m.contains("staged")), s"got: ${chain(we)}")
      // within the cap the same write goes through
      spark.sql("INSERT INTO pgtc.pg_temp.capped VALUES (1, 'a'), (2, 'b')")
      // read side: the driver-side COPY fetch respects the read option
      val re = intercept[Exception](
        spark.read.option("pgTempMaxBytes", "8")
          .table("pgtc.pg_temp.capped").collect())
      assert(chain(re).exists(m => m.contains("pgTempMaxBytes") &&
        m.contains("staged")), s"got: ${chain(re)}")
      // the default cap leaves small scratch state untouched
      assert(spark.sql("SELECT count(*) FROM pgtc.pg_temp.capped")
        .collect()(0).getLong(0) == 2L)
      spark.sql("DROP TABLE pgtc.pg_temp.capped")
    }
    srv.close()
  }

  test("withTransaction: a second block on the same DSN rejects without breaking the first") {
    val d = "mem:txnreg"
    graft.meta.InMemoryPg.forName("txnreg")
    graft.functions.PgFunctions.withTransaction(d) { s =>
      val e = intercept[IllegalStateException](
        graft.functions.PgFunctions.withTransaction(d) { _ => () })
      assert(e.getMessage.contains("already active"))
      // the rejected inner block must not tear down the outer's
      // registration (its cleanup closes only ITS own connection)
      assert(graft.functions.PgTxnRegistry.lookup(d).isDefined)
      s.execute("SET standard_conforming_strings = on") // outer usable
    }
    assert(graft.functions.PgTxnRegistry.lookup(d).isEmpty,
      "registration must clear when the block ends")
  }

  test("withTransaction: BEGIN/op/op/COMMIT on one pinned connection; ROLLBACK on error") {
    pg
    pg.execute("""CREATE TABLE IF NOT EXISTS "public"."txn_t" ("k" BIGINT, "v" VARCHAR)""")
    val mark = pg.executedStatements.size
    val n = PgFunctions.withTransaction(dsn) { s =>
      s.execute("""INSERT INTO "public"."txn_t" VALUES (1, 'one')""")
      s.execute("""INSERT INTO "public"."txn_t" VALUES (2, 'two')""")
      // read-your-own-writes inside the block, typed via describe+COPY
      val df = s.queryDf(spark, """SELECT "k", "v" FROM "public"."txn_t" ORDER BY "k"""")
      assert(df.schema("k").dataType.simpleString == "bigint")
      df.count()
    }
    assert(n == 2)
    val sent = pg.executedStatements.synchronized {
      pg.executedStatements.drop(mark).toList }
    // statement ordering: BEGIN first, COMMIT after the body's ops
    val beginIdx = sent.indexWhere(_.startsWith("BEGIN ISOLATION LEVEL"))
    val commitIdx = sent.indexOf("COMMIT")
    val opIdxs = sent.zipWithIndex.collect {
      case (st, i) if st.startsWith("INSERT INTO \"public\".\"txn_t\"") => i }
    assert(beginIdx >= 0 && commitIdx > beginIdx)
    assert(opIdxs.size == 2 && opIdxs.forall(i => i > beginIdx && i < commitIdx))
    assert(!sent.contains("ROLLBACK"))
    // a thrown body rolls back and rethrows
    val mark2 = pg.executedStatements.size
    val e = intercept[RuntimeException] {
      PgFunctions.withTransaction(dsn) { s =>
        s.execute("""INSERT INTO "public"."txn_t" VALUES (3, 'three')""")
        sys.error("boom")
      }
    }
    assert(e.getMessage == "boom")
    val sent2 = pg.executedStatements.synchronized {
      pg.executedStatements.drop(mark2).toList }
    assert(sent2.contains("ROLLBACK") && !sent2.contains("COMMIT"))
    pg.execute("""DROP TABLE "public"."txn_t"""")
  }

  test("packed tables: byte-blob storage scans identically to boxed rows; DML rejects") {
    pg
    pg.createPackedTable("public", "packed_people", Seq(
      "id" -> PgInt8, "name" -> PgVarchar, "score" -> PgNumeric(10, 2)))
    val src = spark.read.format("postgres")
      .option("dsn", dsn).option("table", "people").load()
    // seed through the normal binary-COPY write path (direct mode —
    // staged promote is row DML, which packed tables reject)
    src.write.format("postgres").option("dsn", dsn)
      .option("table", "packed_people").option("stagedWrites", "false")
      .mode("append").save()
    val packedDf = spark.read.format("postgres")
      .option("dsn", dsn).option("table", "packed_people").load()
    // full scan, pushed filter, pushed count, pushed aggregate — all
    // identical to the boxed twin
    assert(packedDf.orderBy("id").collect().toSeq ==
      src.orderBy("id").collect().toSeq)
    assert(packedDf.count() == 300)
    assert(packedDf.filter(col("id") >= 200).count() == 100)
    val aggP = packedDf.groupBy().agg(max(col("score")).as("m")).head
    val aggB = src.groupBy().agg(max(col("score")).as("m")).head
    assert(aggP == aggB)
    // ctid-parallel page math holds (multiple ranges, no dup/miss)
    assert(packedDf.select(countDistinct(col("id"))).head.getLong(0) == 300)
    // predicate-bearing scans ride the verbatim fast path (only the
    // predicate's columns decode; projected fields copy as raw bytes):
    // exact equality with the boxed twin across filter shapes,
    // including a projection that EXCLUDES the filtered column
    def both(f: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame) =
      (f(packedDf).collect().toSeq, f(src).collect().toSeq)
    Seq[org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame](
      d => d.filter(col("id") >= 100 && col("id") < 140).orderBy("id"),
      d => d.filter(col("score") > 14.5).select("name").orderBy("name"),
      d => d.filter(col("name") === "name_42").select("id", "score"),
      d => d.filter(col("id") < 10 || col("id") >= 295).orderBy("id"),
      d => d.filter(col("name").isNotNull && col("id") =!= 7)
        .select("id").orderBy("id")
    ).foreach { f => val (a, b) = both(f); assert(a == b && a.nonEmpty) }
    // row DML must reject rather than silently corrupt
    val e = intercept[Exception] {
      pg.execute("""DELETE FROM "public"."packed_people" WHERE ctid IN ('(0,1)'::tid)""")
    }
    assert(e.getMessage.contains("packed"))
    // a REJECTED rename must leave the table intact (the guard runs
    // before the map removal, not after)
    val e2 = intercept[Exception] {
      pg.execute("""ALTER TABLE "public"."packed_people" RENAME TO "gone"""")
    }
    assert(e2.getMessage.contains("packed"))
    assert(spark.read.format("postgres")
      .option("dsn", dsn).option("table", "packed_people").load().count() == 300)
  }

  test("INSERT VALUES stores typed literals, not strings: date/timestamp/bool round-trip") {
    pg
    pg.execute("""CREATE TABLE "public"."ins_typed" ("k" int8, "d" date, "ts" timestamp, "b" bool, "x" bytea)""")
    pg.execute("""INSERT INTO "public"."ins_typed" VALUES """ +
      """(1, '2020-06-15', '2020-06-15 12:30:45', TRUE, '\x0aff'), """ +
      """(2, NULL, NULL, 'f', NULL)""")
    // a scan exercises PgBinaryWriter over the stored values — a
    // UTF8String smuggled into a date/timestamp/bool/bytea column
    // dies right here with a ClassCastException
    val rows = spark.read.format("postgres")
      .option("dsn", dsn).option("table", "ins_typed").load()
      .orderBy("k").collect()
    assert(rows(0).getAs[java.sql.Date]("d").toString == "2020-06-15")
    assert(rows(0).getAs[java.time.LocalDateTime]("ts") ==
      java.time.LocalDateTime.parse("2020-06-15T12:30:45"))
    assert(rows(0).getAs[Boolean]("b"))
    assert(rows(0).getAs[Array[Byte]]("x").toSeq == Seq(0x0a.toByte, 0xff.toByte))
    assert(rows(1).isNullAt(rows(1).fieldIndex("d")))
    assert(!rows(1).getAs[Boolean]("b"))
  }

  test("catalog DDL: create table, insert, drop") {
    pg
    spark.sql("DROP TABLE IF EXISTS pg.public.scratch")
    spark.sql("CREATE TABLE pg.public.scratch (k BIGINT, v STRING, d DECIMAL(8,3))")
    assert(pg.hasTable("public", "scratch"))
    spark.sql("INSERT INTO pg.public.scratch VALUES (1, 'a', 1.25), (2, NULL, NULL)")
    val back = spark.sql("SELECT * FROM pg.public.scratch ORDER BY k").collect()
    assert(back.length == 2)
    assert(back(0).getString(1) == "a")
    assert(back(0).getDecimal(2).toString == "1.250")
    assert(back(1).isNullAt(1))
    spark.sql("DROP TABLE pg.public.scratch")
    assert(!pg.hasTable("public", "scratch"))
  }

  test("pushed timestamp and date predicates evaluate as instants, not text") {
    pg
    import spark.implicits._
    spark.sql("DROP TABLE IF EXISTS pg.public.temporal")
    spark.sql("CREATE TABLE pg.public.temporal (k BIGINT, ts TIMESTAMP, d DATE)")
    val rows = (0 until 10).map { i =>
      (i.toLong,
        java.sql.Timestamp.valueOf(s"1998-09-0${1 + i % 9} 12:00:00"),
        java.sql.Date.valueOf(s"1995-01-0${1 + i % 9}"))
    }
    rows.toDF("k", "ts", "d").writeTo("pg.public.temporal").append()
    // the remote WHERE contains TIMESTAMP '...' / DATE '...' literals;
    // the mem endpoint must compare them as instants/days (a lexical or
    // numeric-text comparison would throw or mis-filter)
    val n1 = spark.table("pg.public.temporal")
      .filter(col("ts") <= lit(java.sql.Timestamp.valueOf("1998-09-03 23:59:59"))).count()
    assert(n1 == rows.count(_._2.getTime <= java.sql.Timestamp.valueOf("1998-09-03 23:59:59").getTime))
    val n2 = spark.table("pg.public.temporal")
      .filter(col("d") > lit(java.sql.Date.valueOf("1995-01-05"))).count()
    assert(n2 == rows.count(_._3.after(java.sql.Date.valueOf("1995-01-05"))))
  }

  test("concurrent scans and writes against one DSN stay consistent") {
    // the reference ships a standalone threads-doing-concurrent-
    // scan+update stress (concurrency_test.cpp); this is the same
    // contract through the DSv2 stack: the pool must hand every thread
    // its own healthy connection and writes must never interleave into
    // a torn COPY.
    pg
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    spark.sql("DROP TABLE IF EXISTS pg.public.conc")
    spark.sql("CREATE TABLE pg.public.conc (k BIGINT, who STRING)")
    val writers = (0 until 4).map { w =>
      Future {
        (0 until 3).foreach { r =>
          (0 until 50).map(i => (w * 1000L + r * 100L + i, s"w$w"))
            .toDF("k", "who").writeTo("pg.public.conc").append()
        }
      }
    }
    val readers = (0 until 4).map { _ =>
      Future {
        (0 until 6).foreach { _ =>
          // any snapshot is fine mid-write; the scan must never error
          // or return a torn row
          val n = spark.read.format("postgres")
            .option("dsn", dsn).option("table", "conc").load()
            .filter(col("who").startsWith("w")).count()
          assert(n >= 0)
        }
      }
    }
    Await.result(Future.sequence(writers ++ readers), 120.seconds)
    val fin = spark.table("pg.public.conc")
    assert(fin.count() == 4 * 3 * 50)
    assert(fin.select(countDistinct(col("k"))).head.getLong(0) == 600)
    assert(fin.groupBy("who").count().collect().forall(_.getLong(1) == 150))
  }

  test("writes append via COPY FROM STDIN; overwrite truncates") {
    pg
    spark.sql("DROP TABLE IF EXISTS pg.public.wtest")
    spark.sql("CREATE TABLE pg.public.wtest (k BIGINT, v STRING)")
    import spark.implicits._
    Seq((1L, "x"), (2L, "y")).toDF("k", "v")
      .writeTo("pg.public.wtest").append()
    assert(spark.table("pg.public.wtest").count() == 2)
    Seq((9L, "z")).toDF("k", "v")
      .write.format("postgres")
      .option("dsn", dsn).option("table", "wtest")
      .mode("overwrite").save()
    val rows = spark.table("pg.public.wtest").collect()
    assert(rows.length == 1 && rows(0).getLong(0) == 9L)
  }

  test("_ctid metadata column + batched deleteByCtid") {
    pg
    spark.sql("DROP TABLE IF EXISTS pg.public.dtest")
    spark.sql("CREATE TABLE pg.public.dtest (k BIGINT, v STRING)")
    import spark.implicits._
    (0 until 200).map(i => (i.toLong, s"v$i")).toDF("k", "v")
      .writeTo("pg.public.dtest").append()
    val withCtid = spark.sql("SELECT k, _ctid FROM pg.public.dtest WHERE k % 2 = 0")
    assert(withCtid.count() == 100)
    PgFunctions.deleteByCtid(dsn, "public", "dtest", withCtid)
    val remaining = spark.sql("SELECT k FROM pg.public.dtest").collect().map(_.getLong(0))
    assert(remaining.length == 100 && remaining.forall(_ % 2 == 1))
  }

  test("attachViews registers a temp view per table") {
    pg
    val tables = PgFunctions.attachViews(spark, dsn, overwrite = true)
    assert(tables.contains("people"))
    assert(spark.table("people").count() == 300)
  }

  test("alter table add/rename/drop column is forwarded") {
    pg
    spark.sql("DROP TABLE IF EXISTS pg.public.atest")
    spark.sql("CREATE TABLE pg.public.atest (a INT)")
    spark.sql("ALTER TABLE pg.public.atest ADD COLUMN b STRING")
    assert(spark.table("pg.public.atest").columns.toSeq == Seq("a", "b"))
    spark.sql("ALTER TABLE pg.public.atest RENAME COLUMN b TO c")
    assert(spark.table("pg.public.atest").columns.toSeq == Seq("a", "c"))
  }

  test("updateByCtid runs the temp-table UPDATE FROM protocol") {
    pg
    spark.sql("DROP TABLE IF EXISTS pg.public.utest")
    spark.sql("CREATE TABLE pg.public.utest (k BIGINT, v STRING, amt DECIMAL(10,2))")
    import spark.implicits._
    (0 until 100).map(i => (i.toLong, s"v$i", BigDecimal(i).setScale(2)))
      .toDF("k", "v", "amt").writeTo("pg.public.utest").append()
    // raise amt by 1000 for even keys
    val updates = spark.sql(
      "SELECT _ctid, CAST(amt + 1000 AS DECIMAL(10,2)) AS amt FROM pg.public.utest WHERE k % 2 = 0")
    PgFunctions.updateByCtid(dsn, "public", "utest", updates)
    val rows = spark.sql("SELECT k, amt FROM pg.public.utest ORDER BY k").collect()
    assert(rows.length == 100)
    rows.foreach { r =>
      val k = r.getLong(0); val amt = r.getDecimal(1)
      val expect = if (k % 2 == 0) k + 1000 else k
      assert(amt == new java.math.BigDecimal(expect).setScale(2), s"k=$k amt=$amt")
    }
    // temp table dropped after the protocol
    assert(!pg.hasTable("pg_temp", "update_data"))
  }

  test("ctid pack/unpack expressions round-trip inside codegen") {
    val s2 = spark
    import s2.implicits._
    graft.functions.CtidFunctions.register(s2)
    import graft.functions.CtidFunctions._
    import org.apache.spark.sql.functions.col
    val df = Seq((123456789L, 77)).toDF("page", "row")
      .withColumn("packed", pg_ctid_pack(col("page"), col("row")))
      .withColumn("unpacked", pg_ctid_unpack(col("packed")))
      .withColumn("text", pg_ctid_text(col("packed")))
    val r = df.head()
    assert(r.getAs[Long]("packed") == ((123456789L << 16) | 77L))
    assert(r.getAs[org.apache.spark.sql.Row]("unpacked").getLong(0) == 123456789L)
    assert(r.getAs[org.apache.spark.sql.Row]("unpacked").getInt(1) == 77)
    assert(r.getAs[String]("text") == "(123456789,77)")
  }

  test("snapshot export happens for multi-partition scans") {
    pg
    pg.executedStatements.clear()
    val df = spark.read.format("postgres")
      .option("dsn", dsn).option("table", "people")
      .option("pagesPerTask", "2").load()
    assert(df.count() == 300)
    val stmts = pg.executedStatements.toSeq
    assert(stmts.exists(_.contains("SET TRANSACTION SNAPSHOT")),
      s"no snapshot adoption in: $stmts")
  }

  test("CREATE INDEX forwarding through SupportsIndex") {
    pg
    spark.sql("DROP TABLE IF EXISTS pg.public.itest")
    spark.sql("CREATE TABLE pg.public.itest (k BIGINT, v STRING)")
    val tbl = spark.sessionState.catalogManager.catalog("pg")
      .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
      .loadTable(org.apache.spark.sql.connector.catalog.Identifier.of(Array("public"), "itest"))
      .asInstanceOf[org.apache.spark.sql.connector.catalog.index.SupportsIndex]
    tbl.createIndex("itest_k_idx",
      Array(org.apache.spark.sql.connector.expressions.Expressions.column("k")),
      java.util.Collections.emptyMap(),
      java.util.Collections.singletonMap("unique", "true"))
    assert(tbl.indexExists("itest_k_idx"))
    val idx = tbl.listIndexes()
    assert(idx.length == 1 && idx(0).indexName == "itest_k_idx")
    assert(idx(0).columns()(0).fieldNames()(0) == "k")
    tbl.dropIndex("itest_k_idx")
    assert(!tbl.indexExists("itest_k_idx"))
  }

  test("COUNT(*) aggregate pushdown ships one int8 per partition") {
    pg
    pg.clearCopyOutLog()
    val n = spark.read.format("postgres")
      .option("dsn", dsn).option("table", "people")
      .option("pagesPerTask", "2").load().count()
    assert(n == 300)
    val countSqls = pg.copyOutSnapshot.filter(_.contains("count(*)"))
    assert(countSqls.nonEmpty, s"no pushed count(*): ${pg.copyOutSnapshot}")
    assert(countSqls.forall(_.contains("ctid BETWEEN")))
  }

  test("text COPY fallback for types that cannot round-trip binary") {
    pg
    // a macaddr column forces the text wire format, like the
    // reference's GetCopyFormat rule
    pg.createTable("public", "machines", Seq(
      "id" -> PgInt8, "mac" -> PgUnknown("macaddr"), "score" -> PgNumeric(8, 2)))
    pg.copyInStatements.clear()
    import spark.implicits._
    Seq((1L, "08:00:2b:01:02:03", BigDecimal("12.50").bigDecimal),
        (2L, null, null))
      .toDF("id", "mac", "score")
      .write.format("postgres")
      .option("dsn", dsn).option("table", "machines")
      .mode("append").save()
    assert(pg.copyInStatements.exists(_.contains("FORMAT text")),
      s"expected text COPY: ${pg.copyInStatements}")
    val back = spark.sql("SELECT * FROM pg.public.machines ORDER BY id").collect()
    assert(back.length == 2)
    assert(back(0).getString(1) == "08:00:2b:01:02:03")
    assert(back(0).getDecimal(2).toString == "12.50")
    assert(back(1).isNullAt(1) && back(1).isNullAt(2))
  }

  test("grouped MIN/MAX/SUM/COUNT push down with GROUP BY") {
    pg
    spark.sql("DROP TABLE IF EXISTS pg.public.gagg")
    spark.sql("CREATE TABLE pg.public.gagg (grp STRING, x BIGINT, d DOUBLE, de DECIMAL(8,2))")
    import spark.implicits._
    (0 until 200).map(i => (s"g${i % 3}", i.toLong, i * 0.5,
        BigDecimal(i).setScale(2).bigDecimal))
      .toDF("grp", "x", "d", "de").writeTo("pg.public.gagg").append()
    pg.clearCopyOutLog()
    val got = spark.sql(
      """SELECT grp, count(*) AS n, min(x) AS mn, max(x) AS mx,
        |  sum(x) AS sx, sum(d) AS sd, sum(de) AS sde
        |FROM pg.public.gagg GROUP BY grp ORDER BY grp""".stripMargin).collect()
    val pushed = pg.copyOutSnapshot.filter(_.contains("GROUP BY"))
    assert(pushed.nonEmpty, s"no pushed group-by: ${pg.copyOutSnapshot}")
    assert(got.length == 3)
    // expected per group: g0 has 0,3,...,198 (67 values), g1 1..199 (67), g2 2..197 (66)
    val byGrp = got.map(r => r.getString(0) -> r).toMap
    assert(byGrp("g0").getLong(1) == 67 && byGrp("g1").getLong(1) == 67 &&
      byGrp("g2").getLong(1) == 66)
    assert(byGrp("g0").getLong(2) == 0 && byGrp("g0").getLong(3) == 198)
    val s0 = (0 until 200 by 3).map(_.toLong).sum
    assert(byGrp("g0").getLong(4) == s0)
    assert(byGrp("g0").getDouble(5) == s0 * 0.5)
    assert(byGrp("g0").getDecimal(6) ==
      new java.math.BigDecimal(s0).setScale(2))
  }

  test("connection pool caps concurrency and reuses health-checked transports") {
    pg
    val before = graft.meta.PgConnectionPool.stats(dsn)
    // a parallel scan: every partition acquires + releases a transport
    spark.read.format("postgres")
      .option("dsn", dsn).option("table", "people")
      .option("pagesPerTask", "2").load()
      .selectExpr("id", "name").where("id >= 0").collect()
    val after = graft.meta.PgConnectionPool.stats(dsn)
    assert(after._1 > before._1, "no acquires recorded")
    assert(after._2 > before._2, "no transport reuse after earlier releases")
  }

  test("writer abort discards buffered rows; retry does not duplicate") {
    val p = InMemoryPg.forName("abortspec")
    val t = p.createTable("public", "sink", Seq("id" -> PgInt8))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType)))
    def newWriter() = new graft.sources.postgres.PostgresDataWriter(
      "mem:abortspec", "public", "sink", schema, Seq("id"), Seq(PgInt8), None)
    val failed = newWriter()
    failed.write(new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](1L)))
    failed.abort() // task failure: rows must NOT persist
    assert(t.liveRows == 0, s"aborted task leaked ${t.liveRows} rows")
    val retry = newWriter()
    retry.write(new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](1L)))
    retry.commit()
    assert(t.liveRows == 1, "retry after abort should write exactly once")
  }

  test("SQL DELETE pushes a single remote DELETE when predicates compile") {
    pg
    spark.sql("DROP TABLE IF EXISTS pg.public.del1")
    spark.sql("CREATE TABLE pg.public.del1 (k BIGINT, v STRING)")
    import spark.implicits._
    (0 until 100).map(i => (i.toLong, s"v$i")).toDF("k", "v")
      .writeTo("pg.public.del1").append()
    val p = InMemoryPg.forName("spec")
    p.executedStatements.clear()
    spark.sql("DELETE FROM pg.public.del1 WHERE k < 40")
    val pushed = p.executedStatements.filter(s =>
      s.startsWith("DELETE FROM") && s.contains("WHERE") && !s.contains("ctid IN"))
    assert(pushed.nonEmpty, s"expected pushed DELETE WHERE: ${p.executedStatements}")
    val left = spark.sql("SELECT k FROM pg.public.del1").collect().map(_.getLong(0))
    assert(left.length == 60 && left.forall(_ >= 40))
  }

  test("SQL DELETE with non-pushable predicate falls back to ctid row-level delete") {
    pg
    spark.sql("DROP TABLE IF EXISTS pg.public.del2")
    spark.sql("CREATE TABLE pg.public.del2 (k BIGINT, v STRING)")
    import spark.implicits._
    (0 until 100).map(i => (i.toLong, s"v$i")).toDF("k", "v")
      .writeTo("pg.public.del2").append()
    val p = InMemoryPg.forName("spec")
    p.executedStatements.clear()
    // length(v) is not compilable by the filter pushdown → delta rewrite
    spark.sql("DELETE FROM pg.public.del2 WHERE length(v) = 2")
    val ctidDeletes = p.executedStatements.filter(_.contains("ctid IN"))
    assert(ctidDeletes.nonEmpty,
      s"expected ctid-based row-level delete: ${p.executedStatements}")
    // v0..v9 have length 2 → 90 rows remain
    val left = spark.sql("SELECT k FROM pg.public.del2").collect().map(_.getLong(0))
    assert(left.length == 90 && left.forall(_ >= 10))
  }

  test("SQL UPDATE runs through the delta rewrite with the temp-table protocol") {
    pg
    spark.sql("DROP TABLE IF EXISTS pg.public.upd1")
    spark.sql("CREATE TABLE pg.public.upd1 (k BIGINT, v STRING, amt DECIMAL(10,2))")
    import spark.implicits._
    (0 until 50).map(i => (i.toLong, s"v$i", BigDecimal(i).setScale(2)))
      .toDF("k", "v", "amt").writeTo("pg.public.upd1").append()
    val p = InMemoryPg.forName("spec")
    p.executedStatements.clear()
    spark.sql(
      "UPDATE pg.public.upd1 SET amt = CAST(amt + 1000 AS DECIMAL(10,2)), v = 'x' WHERE k % 2 = 0")
    assert(p.executedStatements.exists(_.contains("__page_id_string")),
      s"expected temp-table update protocol: ${p.executedStatements}")
    val rows = spark.sql("SELECT k, v, amt FROM pg.public.upd1 ORDER BY k").collect()
    assert(rows.length == 50)
    rows.foreach { r =>
      val k = r.getLong(0)
      if (k % 2 == 0) {
        assert(r.getString(1) == "x")
        assert(r.getDecimal(2) == new java.math.BigDecimal(k + 1000).setScale(2))
      } else {
        assert(r.getString(1) == s"v$k")
        assert(r.getDecimal(2) == new java.math.BigDecimal(k).setScale(2))
      }
    }
  }

  test("SQL MERGE updates matched rows and inserts unmatched ones") {
    pg
    spark.sql("DROP TABLE IF EXISTS pg.public.mrg1")
    spark.sql("CREATE TABLE pg.public.mrg1 (k BIGINT, v STRING)")
    import spark.implicits._
    (0 until 10).map(i => (i.toLong, s"old$i")).toDF("k", "v")
      .writeTo("pg.public.mrg1").append()
    (5 until 15).map(i => (i.toLong, s"new$i")).toDF("k", "v")
      .createOrReplaceTempView("mrg_src")
    spark.sql(
      """MERGE INTO pg.public.mrg1 t USING mrg_src s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET v = s.v
        |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)""".stripMargin)
    val rows = spark.sql("SELECT k, v FROM pg.public.mrg1 ORDER BY k").collect()
    assert(rows.length == 15)
    rows.foreach { r =>
      val k = r.getLong(0)
      val expect = if (k < 5) s"old$k" else s"new$k"
      assert(r.getString(1) == expect, s"k=$k got ${r.getString(1)}")
    }
  }

  test("CTAS is atomic: success renames staging over target, failure leaves nothing") {
    pg
    spark.sql("DROP TABLE IF EXISTS pg.public.ctas1")
    spark.sql(
      "CREATE TABLE pg.public.ctas1 AS SELECT id AS k, CAST(id * 2 AS STRING) AS v FROM range(10)")
    val rows = spark.sql("SELECT k, v FROM pg.public.ctas1 ORDER BY k").collect()
    assert(rows.length == 10 && rows(3).getString(1) == "6")
    // failed CTAS: the job throws mid-write → no target, no staging debris
    spark.sql("DROP TABLE IF EXISTS pg.public.ctasfail")
    intercept[Exception] {
      spark.sql(
        """CREATE TABLE pg.public.ctasfail AS
          |SELECT CASE WHEN id > 5 THEN CAST(raise_error('boom') AS BIGINT)
          |       ELSE id END AS k FROM range(10)""".stripMargin)
    }
    assert(!spark.sql("SHOW TABLES IN pg.public").collect()
      .map(_.getString(1)).contains("ctasfail"),
      "failed CTAS must not leave the target table")
    val leftovers = spark.sql("SHOW TABLES IN pg.public").collect()
      .map(_.getString(1)).filter(_.contains("__stg_"))
    assert(leftovers.isEmpty, s"staging debris left behind: ${leftovers.toSeq}")
    // RTAS: replace swaps content atomically
    spark.sql("REPLACE TABLE pg.public.ctas1 AS SELECT id AS k FROM range(3)")
    val replaced = spark.sql("SELECT k FROM pg.public.ctas1 ORDER BY k").collect()
    assert(replaced.map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L))
  }

  test("limit pushdown reaches each task's COPY and bounds served rows") {
    pg
    pg.clearCopyOutLog()
    val n = spark.read.format("postgres")
      .option("dsn", dsn).option("table", "people")
      .option("pagesPerTask", "2").load()
      .select("id").limit(7).count()
    assert(n == 7)
    val scans = pg.copyOutSnapshot.filter(_.contains("\"people\""))
    assert(scans.nonEmpty && scans.forall(_.contains("LIMIT 7")),
      s"expected LIMIT 7 in every task scan: $scans")
  }

  test("top-N pushdown orders remotely; text sort keys stay host-side") {
    pg
    pg.clearCopyOutLog()
    val top = spark.read.format("postgres")
      .option("dsn", dsn).option("table", "people")
      .option("pagesPerTask", "2").load()
      .orderBy(col("score").desc, col("id")).limit(5)
      .select("id").collect().map(_.getLong(0)).toSeq
    // highest scores are the highest ids (score = id/10)
    assert(top == Seq(299L, 298L, 297L, 296L, 295L))
    val scans = pg.copyOutSnapshot.filter(_.contains("\"people\""))
    assert(scans.nonEmpty && scans.forall(
      _.contains("ORDER BY \"score\" DESC NULLS LAST, \"id\" ASC NULLS FIRST LIMIT 5")),
      s"expected pushed top-N in every task scan: $scans")

    // a varchar sort key must NOT be pushed (collation divergence):
    // the scan carries neither ORDER BY nor LIMIT and Spark sorts
    pg.clearCopyOutLog()
    val byName = spark.read.format("postgres")
      .option("dsn", dsn).option("table", "people").load()
      .orderBy(col("name")).limit(3)
      .select("name").collect().map(_.getString(0)).toSeq
    assert(byName == Seq("name_0", "name_1", "name_10"))
    val nameScans = pg.copyOutSnapshot.filter(_.contains("\"people\""))
    assert(nameScans.nonEmpty && nameScans.forall(s =>
      !s.contains("ORDER BY") && !s.contains("LIMIT")),
      s"text top-N must not push: $nameScans")
  }

  test("runtime join filter from dynamic pruning reaches the remote WHERE") {
    pg
    // build side must survive as a real plan (a LocalRelation folds its
    // Filter away before the pruning rule runs), so derive it from Range
    val dim = spark.range(0, 1000).toDF("id")
      .filter(pmod(col("id"), lit(100)) === 7)
    val fact = spark.read.format("postgres")
      .option("dsn", dsn).option("table", "people")
      .option("pagesPerTask", "2").load()
      .withColumn("id", col("id"))
    pg.clearCopyOutLog()
    val n = fact.join(dim, "id").count()
    assert(n == 3) // ids 7, 107, 207 exist among people 0..299
    val scans = pg.copyOutSnapshot.filter(_.contains("\"people\""))
    assert(scans.nonEmpty && scans.forall(_.contains(""""id" IN (""")),
      s"expected the runtime IN in every task scan: $scans")
  }

  test("oversized runtime IN sets stay host-side") {
    pg
    import org.apache.spark.sql.sources.In
    val tbl = graft.sources.postgres.PostgresTable.discover(
      graft.sources.postgres.PostgresOptions(Map("dsn" -> dsn, "table" -> "people")))
    val scan = tbl.newScanBuilder(
        new org.apache.spark.sql.util.CaseInsensitiveStringMap(java.util.Collections.emptyMap()))
      .build().asInstanceOf[graft.sources.postgres.PostgresScan]
    scan.filter(Array[org.apache.spark.sql.sources.Filter](
      In("id", (0 to 1000).map(i => i.toLong: Any).toArray)))
    val sqls = scan.planInputPartitions()
      .map(_.asInstanceOf[graft.sources.postgres.PostgresInputPartition].sql)
    assert(sqls.nonEmpty && sqls.forall(!_.contains(" IN (")),
      s"a 1001-value IN must not ship: ${sqls.head.take(200)}")
    // a small one does ship
    scan.filter(Array[org.apache.spark.sql.sources.Filter](In("id", Array(1L, 2L))))
    val sqls2 = scan.planInputPartitions()
      .map(_.asInstanceOf[graft.sources.postgres.PostgresInputPartition].sql)
    assert(sqls2.forall(_.contains(""""id" IN (1, 2)""")), sqls2.head)
  }

  test("staged writes: task rows stay invisible until the driver promote commit") {
    val p = InMemoryPg.forName("stagedspec")
    p.createTable("public", "sink", Seq("id" -> PgInt8))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType)))
    def row(v: Long) =
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(Array[Any](v))
    // two tasks write, commit their tasks — target must still be empty
    val w0 = new graft.sources.postgres.PostgresDataWriter(
      "mem:stagedspec", "public", "sink", schema, Seq("id"), Seq(PgInt8), None,
      true, Some("sink_stg_j_0_1"))
    w0.write(row(1L))
    val m0 = w0.commit()
    val w1 = new graft.sources.postgres.PostgresDataWriter(
      "mem:stagedspec", "public", "sink", schema, Seq("id"), Seq(PgInt8), None,
      true, Some("sink_stg_j_1_2"))
    w1.write(row(2L))
    val m1 = w1.commit()
    assert(p.getTable("public", "sink").liveRows == 0,
      "rows visible before the driver commit break job atomicity")
    assert(p.getTable("public", "sink_stg_j_0_1").liveRows == 1)
    // driver promote: both staging tables land in one transaction
    val tbl = graft.sources.postgres.PostgresTable.discover(
      graft.sources.postgres.PostgresOptions(Map(
        "dsn" -> "mem:stagedspec", "table" -> "sink")))
    p.executedStatements.clear()
    new graft.sources.postgres.PostgresBatchWrite(tbl, schema, doTruncate = false)
      .commit(Array(m0, m1))
    assert(p.getTable("public", "sink").liveRows == 2)
    assert(!p.hasTable("public", "sink_stg_j_0_1") && !p.hasTable("public", "sink_stg_j_1_2"),
      "staging tables must be dropped after promote")
    val stmts = p.executedStatements.toSeq
    val begin = stmts.indexWhere(_.startsWith("BEGIN"))
    val commit = stmts.indexWhere(_.startsWith("COMMIT"))
    val inserts = stmts.zipWithIndex.filter(_._1.startsWith("INSERT INTO")).map(_._2)
    assert(begin >= 0 && commit > begin && inserts.forall(i => i > begin && i < commit),
      s"promote must run inside one transaction: $stmts")
    // job abort: a committed task's staging table is cleaned up, target untouched
    val w2 = new graft.sources.postgres.PostgresDataWriter(
      "mem:stagedspec", "public", "sink", schema, Seq("id"), Seq(PgInt8), None,
      true, Some("sink_stg_j_2_3"))
    w2.write(row(3L))
    val m2 = w2.commit()
    new graft.sources.postgres.PostgresBatchWrite(tbl, schema, doTruncate = false)
      .abort(Array(m2))
    assert(p.getTable("public", "sink").liveRows == 2)
    assert(!p.hasTable("public", "sink_stg_j_2_3"))
  }

  test("staged overwrite defers the truncate into the promote transaction") {
    val p = InMemoryPg.forName("stagedow")
    p.createTable("public", "t", Seq("id" -> PgInt8))
    import spark.implicits._
    Seq(1L, 2L, 3L).toDF("id").write.format("postgres")
      .option("dsn", "mem:stagedow").option("table", "t").mode("append").save()
    p.executedStatements.clear()
    Seq(9L).toDF("id").write.format("postgres")
      .option("dsn", "mem:stagedow").option("table", "t").mode("overwrite").save()
    val rows = spark.read.format("postgres")
      .option("dsn", "mem:stagedow").option("table", "t").load().collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(9L))
    val stmts = p.executedStatements.toSeq
    val begin = stmts.indexWhere(_.startsWith("BEGIN"))
    val trunc = stmts.indexWhere(_.startsWith("TRUNCATE"))
    assert(trunc > begin && begin >= 0,
      s"overwrite truncate must happen inside the promote transaction: $stmts")
  }

  test("pool resets returned transports: open txn rolled back, open copy discarded") {
    val p = InMemoryPg.forName("poolreset")
    p.createTable("public", "t", Seq("id" -> PgInt8))
    val mdsn = "mem:poolreset"
    // 1) open transaction on release → ROLLBACK before pooling
    val t1 = graft.meta.PgTransportFactory.open(mdsn)
    t1.execute("BEGIN TRANSACTION ISOLATION LEVEL REPEATABLE READ READ ONLY")
    t1.close()
    assert(p.executedStatements.lastOption.contains("ROLLBACK"),
      s"released transport not reset: ${p.executedStatements}")
    val t2 = graft.meta.PgTransportFactory.open(mdsn)
    t2.close()
    assert(graft.meta.PgConnectionPool.stats(mdsn)._2 >= 1, "reset transport not reused")
    // 2) unfinished COPY IN on release → transport discarded, not pooled
    val t3 = graft.meta.PgTransportFactory.open(mdsn)
    val reusesBefore = graft.meta.PgConnectionPool.stats(mdsn)._2
    t3.copyIn("""COPY "public"."t" ("id") FROM STDIN (FORMAT binary)""") // never completed
    t3.close()
    val t4 = graft.meta.PgTransportFactory.open(mdsn)
    t4.close()
    assert(graft.meta.PgConnectionPool.stats(mdsn)._2 == reusesBefore,
      "transport with unfinished COPY must not be reused")
  }

  test("snapshot lease keeps exporting transaction open until release") {
    val p = InMemoryPg.forName("leasespec")
    p.createTable("public", "t", Seq("id" -> PgInt8))
    p.executedStatements.clear()
    val lease = new graft.meta.PgSnapshotLease("mem:leasespec", expectedAdoptions = 99)
    assert(lease.snapshotId.nonEmpty)
    assert(p.executedStatements.exists(_.startsWith(
      "BEGIN TRANSACTION ISOLATION LEVEL REPEATABLE READ")),
      "snapshot must be exported inside a REPEATABLE READ transaction")
    assert(!p.executedStatements.exists(_.startsWith("COMMIT")),
      "exporting transaction must stay open while readers adopt the snapshot")
    lease.release()
    assert(p.executedStatements.exists(_.startsWith("COMMIT")))
  }

  test("snapshot lease adoption is idempotent per partition (task retries don't over-count)") {
    val p = InMemoryPg.forName("leasespec2")
    p.createTable("public", "t", Seq("id" -> PgInt8))
    val lease = graft.meta.PgSnapshotLease.openFor(
      new Object, "mem:leasespec2", expectedAdoptions = 2)
    val ref = lease.ref
    // the same partition adopting twice (a retried task) must not
    // count as two partitions — with a raw counter the export would
    // COMMIT here and the second partition's SET TRANSACTION SNAPSHOT
    // would fail unrecoverably
    graft.meta.PgSnapshotLease.reportAdoption(ref, "partition-sql-A")
    graft.meta.PgSnapshotLease.reportAdoption(ref, "partition-sql-A")
    assert(!lease.isReleased,
      "a retried partition's re-adoption released the lease early")
    graft.meta.PgSnapshotLease.reportAdoption(ref, "partition-sql-B")
    assert(lease.isReleased)
  }

  test("failed transport opens hand their pool permits back") {
    // unreachable server: every open fails fast. With a leaked permit
    // per failure, attempt #65 would block forever on the semaphore.
    val badDsn = "tcp:127.0.0.1:1/permitleak"
    val limit = graft.meta.PgTransportFactory.connectionLimit
    (1 to limit + 5).foreach { _ =>
      intercept[Exception] { graft.meta.PgConnectionPool.acquire(badDsn) }
    }
    // would hang here (not throw) if permits leaked
    intercept[Exception] { graft.meta.PgConnectionPool.acquire(badDsn) }
  }

  test("snapshot lease releases deterministically once all readers adopt") {
    pg
    // clean baseline: earlier tests may have planned-but-never-executed
    // scans whose leases legitimately wait on the GC backstop
    graft.meta.PgSnapshotLease.releaseAll()
    // multi-partition scan → lease opened at planning; the last
    // partition reader's adoption must release it without waiting
    // for the Scan to be GC'd
    val df = spark.read.format("postgres")
      .option("dsn", dsn).option("table", "people")
      .option("pagesPerTask", "2").load()
    assert(df.count() == 300)
    assert(graft.meta.PgSnapshotLease.activeLeases == 0,
      "completed scan left a snapshot lease holding a server transaction")
  }

  test("secret-style options assemble an openable tcp DSN; passwords redact") {
    import graft.meta.PgDsn
    // the assembled form is the one PgTransportFactory actually opens
    assert(PgDsn.assemble(Map(
      "host" -> "db.example.com", "port" -> "5433", "user" -> "app",
      "password" -> "s3cr3t", "database" -> "prod")) ==
      Some("tcp:db.example.com:5433/prod?user=app&password=s3cr3t"))
    // port defaults, db falls back to user; special chars pct-encode
    // and survive the round-trip (decode is fromDsn's job)
    assert(PgDsn.assemble(Map("host" -> "h", "user" -> "u",
      "password" -> "p&w=d e")) ==
      Some("tcp:h:5432/u?user=u&password=p%26w%3Dd%20e"))
    assert(PgDsn.pctDecode("p%26w%3Dd%20e") == "p&w=d e")
    assert(PgDsn.pctDecode("plus+stays") == "plus+stays")
    assert(PgDsn.assemble(Map("table" -> "t")).isEmpty)
    assert(PgDsn.redact("tcp:h:5432/d?user=u&password=s3cr3t&sslmode=verify-full") ==
      "tcp:h:5432/d?user=u&password=********&sslmode=verify-full",
      "redaction must stop at '&' so the TLS params an operator needs survive")
    assert(PgDsn.redact("host=h password='p w\\'d' dbname=d") ==
      "host=h password=******** dbname=d")
    // db segment encodes too: '?', '/' or '&' in a database name (all
    // legal in PG) must not shift fromDsn's path/param split points
    assert(PgDsn.assemble(Map("host" -> "h", "database" -> "we?ird/db&x")) ==
      Some("tcp:h:5432/we%3Fird%2Fdb%26x"))
    // IPv6 host literals bracket (RFC 3986) so host:port stays parseable
    assert(PgDsn.assemble(Map("host" -> "::1", "database" -> "d")) ==
      Some("tcp:[::1]:5432/d"))
    // the scan's table name never leaks a password into plan output
    val opts = graft.sources.postgres.PostgresOptions(Map(
      "dsn" -> "mem:spec", "table" -> "people"))
    val tbl = graft.sources.postgres.PostgresTable.discover(opts)
    assert(!tbl.name().contains("s3cr3t"))
  }

  test("arrayAsVarchar reads array columns as their text literal") {
    val p = InMemoryPg.forName("arropt")
    if (!p.hasTable("public", "arrs")) {
      val t = p.createTable("public", "arrs", Seq(
        "id" -> PgInt8, "xs" -> PgArray(PgInt4)))
      t.slots += Some(new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](1L, new org.apache.spark.sql.catalyst.util.GenericArrayData(
          Array[Any](1, null, 3)))))
    }
    val plain = spark.read.format("postgres")
      .option("dsn", "mem:arropt").option("table", "arrs").load()
    assert(plain.schema("xs").dataType.simpleString == "array<int>")
    val asText = spark.read.format("postgres")
      .option("dsn", "mem:arropt").option("table", "arrs")
      .option("arrayAsVarchar", "true").load()
    assert(asText.schema("xs").dataType.simpleString == "string")
    assert(asText.select("xs").head.getString(0) == "{1,NULL,3}")
  }

  test("useBinaryCopy=false forces the COPY TEXT write format") {
    pg
    spark.sql("DROP TABLE IF EXISTS pg.public.txtw")
    spark.sql("CREATE TABLE pg.public.txtw (k BIGINT, v STRING)")
    val p = InMemoryPg.forName("spec")
    p.copyInStatements.clear()
    import spark.implicits._
    Seq((1L, "a"), (2L, "b")).toDF("k", "v")
      .write.format("postgres")
      .option("dsn", dsn).option("table", "txtw")
      .option("useBinaryCopy", "false")
      .mode("append").save()
    assert(p.copyInStatements.nonEmpty &&
      p.copyInStatements.forall(_.contains("FORMAT text")),
      s"expected text COPY: ${p.copyInStatements}")
    val back = spark.sql("SELECT * FROM pg.public.txtw ORDER BY k").collect()
    assert(back.map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "a"), (2L, "b")))
  }

  test("connectionCache=false stops transport reuse; debugShowQueries prints") {
    val p = InMemoryPg.forName("cacheopt")
    p.createTable("public", "t", Seq("id" -> PgInt8))
    try {
      spark.read.format("postgres")
        .option("dsn", "mem:cacheopt").option("table", "t")
        .option("connectionCache", "false").load().count()
      val reuses1 = graft.meta.PgConnectionPool.stats("mem:cacheopt")._2
      spark.read.format("postgres")
        .option("dsn", "mem:cacheopt").option("table", "t").load().count()
      // second scan would normally reuse cached transports; with the
      // cache off at release time nothing was pooled to reuse
      val reuses2 = graft.meta.PgConnectionPool.stats("mem:cacheopt")._2
      assert(reuses2 == reuses1, "transports must not be cached when the option is off")
    } finally graft.meta.PgTransportFactory.connectionCacheEnabled = true
    val buf = new java.io.ByteArrayOutputStream()
    try {
      Console.withOut(new java.io.PrintStream(buf)) {
        graft.meta.PgTransportFactory.debugShowQueries = true
        val t = graft.meta.PgTransportFactory.open("mem:cacheopt")
        try t.query(graft.meta.PgCatalogQueries.versionProbe) finally t.close()
      }
    } finally graft.meta.PgTransportFactory.debugShowQueries = false
    assert(buf.toString.contains("SELECT version()"),
      s"debugShowQueries should print statements, got: ${buf.toString}")
    // over tcp: the pooled wrapper and the socket transport share the
    // path; each statement still prints exactly once
    val server = new graft.meta.PgWireServer(p)
    val wire = new java.io.ByteArrayOutputStream()
    try {
      Console.withOut(new java.io.PrintStream(wire)) {
        graft.meta.PgTransportFactory.debugShowQueries = true
        val t = graft.meta.PgTransportFactory.open(server.dsn())
        try {
          t.query(graft.meta.PgCatalogQueries.versionProbe)
          t.execute("SET search_path = public")
        } finally t.close()
      }
    } finally {
      graft.meta.PgTransportFactory.debugShowQueries = false
      server.close()
    }
    val lines = wire.toString.linesIterator.toSeq
    assert(lines.count(_.contains("SELECT version()")) == 1 &&
      lines.count(_.contains("SET search_path")) == 1,
      s"each tcp: statement should print once, got: ${wire.toString}")
  }

  test("pool stats count every concurrent acquire exactly once") {
    val dsn = "mem:pool_stats"
    InMemoryPg.forName("pool_stats")
    val (threads, k) = (8, 200)
    val (a0, _) = graft.meta.PgConnectionPool.stats(dsn)
    val exec = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val done = (1 to threads).map(_ => exec.submit(new Runnable {
        def run(): Unit = (1 to k).foreach(_ => graft.meta.PgTransportFactory.open(dsn).close())
      }))
      done.foreach(_.get())
    } finally exec.shutdown()
    val (acquires, reuses) = graft.meta.PgConnectionPool.stats(dsn)
    assert(acquires - a0 == threads * k)
    assert(reuses <= acquires)
  }

  test("load() discovers the table once") {
    pg
    def tableInfos = pg.queriedStatements.synchronized(
      pg.queriedStatements.count(_ == graft.meta.PgCatalogQueries.tableInfo("public", "people")))
    val before = tableInfos
    val df = spark.read.format("postgres")
      .option("dsn", dsn).option("table", "people").load()
    assert(df.columns.toSeq == Seq("id", "name", "score"))
    assert(tableInfos - before == 1, "inferSchema's discovery should serve getTable")
  }

  test("ctid-range parallel scan is disabled below PG 14") {
    val p = InMemoryPg.forName("oldpg")
    p.versionString = "PostgreSQL 13.7 on x86_64-pc-linux-gnu"
    val t = p.createTable("public", "t", Seq("id" -> PgInt8))
    (0 until 300).foreach { i =>
      t.slots += Some(new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](i.toLong)))
    }
    p.executedStatements.clear()
    val df = spark.read.format("postgres")
      .option("dsn", "mem:oldpg").option("table", "t")
      .option("pagesPerTask", "2").load()
    assert(df.rdd.getNumPartitions == 1,
      "pre-14 server must collapse to a single streaming partition")
    assert(df.count() == 300)
    assert(!p.executedStatements.exists(_.contains("SET TRANSACTION SNAPSHOT")),
      "single-partition scan must not export/adopt a snapshot")
  }

  test("snapshot export is skipped on Aurora and on replicas") {
    def scanStatements(name: String, mutate: InMemoryPg => Unit): Seq[String] = {
      val p = InMemoryPg.forName(name)
      mutate(p)
      val t = p.createTable("public", "t", Seq("id" -> PgInt8))
      (0 until 300).foreach { i =>
        t.slots += Some(new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](i.toLong)))
      }
      p.executedStatements.clear()
      val df = spark.read.format("postgres")
        .option("dsn", s"mem:$name").option("table", "t")
        .option("pagesPerTask", "2").load()
      assert(df.rdd.getNumPartitions > 1, "scan should still parallelize")
      assert(df.count() == 300)
      p.executedStatements.toSeq
    }
    val aurora = scanStatements("aurorapg", _.rdsSettingsCount = 3L)
    assert(!aurora.exists(_.contains("SET TRANSACTION SNAPSHOT")),
      s"Aurora scan must not use exported snapshots: $aurora")
    val replica = scanStatements("replicapg", _.inRecovery = true)
    assert(!replica.exists(_.contains("SET TRANSACTION SNAPSHOT")),
      s"replica scan must not use exported snapshots: $replica")
  }

  test("recovery probe runs once per DSN, not once per scan plan") {
    val p = InMemoryPg.forName("recoverycache")
    val t = p.createTable("public", "t", Seq("id" -> PgInt8))
    (0 until 300).foreach { i =>
      t.slots += Some(new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](i.toLong)))
    }
    graft.meta.PgServerVersion.clearRecoveryCache()
    p.queriedStatements.clear()
    // collect the rows themselves: a bare count() would push the
    // aggregate down to one partition and never plan a snapshot
    def scan(): Long = spark.read.format("postgres")
      .option("dsn", "mem:recoverycache").option("table", "t")
      .option("pagesPerTask", "2").load().collect().length.toLong
    assert(scan() == 300 && scan() == 300)
    val probes = p.queriedStatements.count(_.contains("pg_is_in_recovery"))
    assert(probes == 1,
      s"expected one cached recovery probe across repeated scans, saw $probes")
    // pg_clear_cache semantics: an invalidated catalog re-probes
    graft.meta.PgServerVersion.clearRecoveryCache()
    assert(scan() == 300)
    assert(p.queriedStatements.count(_.contains("pg_is_in_recovery")) == 2)
  }

  test("lease transport is unpooled: a held lease never consumes a reader permit") {
    val p = InMemoryPg.forName("leasebudget")
    p.createTable("public", "t", Seq("id" -> PgInt8))
    val mdsn = "mem:leasebudget"
    val before = graft.meta.PgConnectionPool.stats(mdsn)._1
    val lease = new graft.meta.PgSnapshotLease(mdsn, expectedAdoptions = 1)
    val after = graft.meta.PgConnectionPool.stats(mdsn)._1
    assert(after == before, "lease must not draw from the pooled permit budget")
    lease.release()
  }

  test("filterPushdown=false suppresses the remote WHERE entirely") {
    pg
    def scanWheres(pushdown: Boolean): Seq[String] = {
      pg.clearCopyOutLog()
      spark.read.format("postgres")
        .option("dsn", dsn).option("table", "people")
        .option("filterPushdown", pushdown.toString)
        .load()
        .filter(col("id") < 10L)
        .collect()
      pg.copyOutSnapshot.filter(_.contains("\"id\" <"))
    }
    assert(scanWheres(pushdown = true).nonEmpty,
      "default: the predicate must reach the remote WHERE")
    assert(scanWheres(pushdown = false).isEmpty,
      "with the toggle off no predicate may reach the remote SQL")
    // results identical either way: Spark re-filters residuals
    val n = spark.read.format("postgres")
      .option("dsn", dsn).option("table", "people")
      .option("filterPushdown", "false")
      .load().filter(col("id") < 10L).count()
    assert(n == 10)
  }

  test("attachViews honors sinkSchema prefix and filterPushdown toggle") {
    pg
    val created = PgFunctions.attachViews(spark, dsn,
      sourceSchema = "public", sinkSchema = Some("pgv"),
      overwrite = true, filterPushdown = false)
    assert(created.contains("pgv_people"))
    pg.clearCopyOutLog()
    val n = spark.sql("SELECT count(*) AS n FROM pgv_people WHERE id < 20").head.getLong(0)
    assert(n == 20)
    assert(pg.copyOutSnapshot.forall(!_.contains("\"id\" <")))
  }

  test("pushed string equality round-trips quoting hazards end to end") {
    import spark.implicits._
    val nasty = Seq(
      "plain", "O'Brien", "back\\slash", "two''quotes", "ends\\",
      "'leading", "trailing'", "tab\there", "new\nline", "per%cent",
      "under_score", "\u00e9\u00fc\u00f1 unicode", "semi;colon", "da$$sh--comment",
      "quote\"double", "mixed'\\\"all")
    val t = graft.meta.PgTransportFactory.open(dsn)
    try t.execute("""CREATE TABLE IF NOT EXISTS "public"."quoted" ("id" INTEGER, "v" VARCHAR)""")
    finally t.close()
    nasty.zipWithIndex.map { case (v, i) => (i, v) }.toDF("id", "v")
      .write.format("postgres")
      .option("dsn", dsn).option("table", "quoted").mode("overwrite").save()
    nasty.zipWithIndex.foreach { case (v, i) =>
      // equality on the hazard string must travel the remote WHERE and
      // still match exactly one row (Spark re-checks the residual, so a
      // broken quote would usually surface as 0 rows or a parse error)
      pg.clearCopyOutLog()
      val got = spark.read.format("postgres")
        .option("dsn", dsn).option("table", "quoted").load()
        .filter(col("v") === v).collect()
      assert(got.length == 1 && got.head.getInt(0) == i, s"value <$v>")
      assert(pg.copyOutSnapshot.exists(_.contains("WHERE")),
        s"predicate for <$v> was not pushed")
    }
  }

  test("stale cached schema fails with a cache-invalidation pointer") {
    pg
    val t = graft.meta.PgTransportFactory.open(dsn)
    try {
      t.execute("""CREATE TABLE "public"."stale_t" ("a" BIGINT, "b" VARCHAR)""")
      val df = spark.read.format("postgres")
        .option("dsn", dsn).option("table", "stale_t").load() // discovery binds (a, b)
      t.execute("""ALTER TABLE "public"."stale_t" DROP COLUMN "b"""")
      val ex = intercept[Exception] { df.select("b").collect() }
      def messages(e: Throwable): Seq[String] =
        Option(e).toSeq.flatMap(x => x.getMessage +: messages(x.getCause))
      assert(messages(ex).exists(m => m != null && m.contains("invalidate")),
        s"expected stale-schema hint, got: $ex")
    } finally {
      try t.execute("""DROP TABLE "public"."stale_t"""") finally t.close()
    }
  }

  test("fuzz: bound WHERE serving matches host-side evaluation on 300 random predicates") {
    pg
    val rnd = new scala.util.Random(42)
    // mirror of the fixture: id 0..299, name "name_<id>", score id/10
    case class P(id: Long, name: String, score: BigDecimal)
    val rows = (0 until 300).map(i => P(i.toLong, s"name_$i", BigDecimal(i).setScale(2) / 10))
    val hazards = Seq("name_7", "a AND b", "x' AND ('y", "name_", "zzz", "(paren)")
    val ops = Seq("=", "<>", "<", "<=", ">", ">=")
    def served(where: String): Int = {
      val in = new graft.codec.PgBlockInput(pg.copyOut(
        s"""COPY (SELECT "id" FROM "public"."people" WHERE $where) TO STDOUT (FORMAT binary)"""))
      val r = new graft.codec.PgBinaryReader(Seq(PgInt8))
      r.readHeader(in)
      var n = 0
      while (r.readRow(in).isDefined) n += 1
      n
    }
    (1 to 300).foreach { _ =>
      val nPreds = 1 + rnd.nextInt(3)
      val preds = (1 to nPreds).map { _ =>
        val op = ops(rnd.nextInt(ops.length))
        rnd.nextInt(3) match {
          case 0 =>
            val v = rnd.nextInt(330).toLong
            (s""""id" $op $v""", (p: P) => cmpOp(op, p.id.compare(v)))
          case 1 =>
            val v =
              if (rnd.nextBoolean()) hazards(rnd.nextInt(hazards.length))
              else s"name_${rnd.nextInt(330)}"
            (s""""name" $op ${graft.sqlgen.PgSqlGen.quoteString(v)}""",
              (p: P) => cmpOp(op, p.name.compareTo(v)))
          case 2 =>
            val v = BigDecimal(rnd.nextInt(3300)).setScale(2) / 100
            (s""""score" $op $v""", (p: P) => cmpOp(op, p.score.compare(v)))
        }
      }
      val where = preds.map(p => s"(${p._1})").mkString(" AND ")
      val expected = rows.count(p => preds.forall(_._2(p)))
      val got = served(where)
      assert(got == expected, s"WHERE $where: served $got, expected $expected")
    }
  }

  private def cmpOp(op: String, c: Int): Boolean = op match {
    case "=" => c == 0
    case "<>" => c != 0
    case "<" => c < 0
    case "<=" => c <= 0
    case ">" => c > 0
    case ">=" => c >= 0
  }

  test("exact filters are consumed and aggregates push under the WHERE") {
    pg
    pg.clearCopyOutLog()
    // integer predicate: exact → consumed → aggregate pushes with WHERE
    val n = spark.read.format("postgres")
      .option("dsn", dsn).option("table", "people")
      .option("pagesPerTask", "2").load()
      .filter(col("id") < 100)
      .agg(count(lit(1)).as("n")).collect().head.getLong(0)
    assert(n == 100)
    val aggScans = pg.copyOutSnapshot.filter(s =>
      s.contains("\"people\"") && s.contains("count(*)"))
    assert(aggScans.nonEmpty && aggScans.forall(_.contains("\"id\" < 100")),
      s"expected pushed count(*) under the integer WHERE: ${pg.copyOutSnapshot}")

    // string predicate: residual (collations) → no aggregate pushdown,
    // raw rows ship and Spark filters + counts
    pg.clearCopyOutLog()
    val m = spark.read.format("postgres")
      .option("dsn", dsn).option("table", "people").load()
      .filter(col("name") === "name_7")
      .agg(count(lit(1)).as("n")).collect().head.getLong(0)
    assert(m == 1)
    assert(!pg.copyOutSnapshot.exists(s =>
      s.contains("\"people\"") && s.contains("count(*)")),
      s"string-filtered aggregate must not push: ${pg.copyOutSnapshot}")

    // decimal predicate under grouped agg: pushed WHERE + GROUP BY
    pg.clearCopyOutLog()
    val grouped = spark.read.format("postgres")
      .option("dsn", dsn).option("table", "people").load()
      .filter(col("score") >= BigDecimal("25.00"))
      .groupBy((col("id") % 2).as("parity"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(grouped == Map(0L -> 25L, 1L -> 25L), s"got $grouped")
  }

  test("readOnly attach: reads work, every mutating surface errors host-side") {
    pg
    import org.apache.spark.sql.functions.lit
    // reads are unaffected
    val df = spark.read.format("postgres")
      .option("dsn", dsn).option("table", "people")
      .option("readOnly", "true").load()
    assert(df.count() == 300)
    // direct writes refuse before any SQL is sent
    val ex = intercept[Exception] {
      df.limit(1).write.format("postgres")
        .option("dsn", dsn).option("table", "people")
        .option("readOnly", "true").mode("append").save()
    }
    assert(ex.getMessage != null && ex.getMessage.contains("read-only"),
      s"unexpected: $ex")
    // read-only catalog: DDL and execute error, reads still flow
    spark.conf.set("spark.sql.catalog.pgro", "graft.catalog.PostgresCatalog")
    spark.conf.set("spark.sql.catalog.pgro.dsn", dsn)
    spark.conf.set("spark.sql.catalog.pgro.readOnly", "true")
    assert(spark.sql("SELECT count(*) AS n FROM pgro.public.people")
      .collect().head.getLong(0) == 300)
    val ddlEx = intercept[Exception] {
      spark.sql("CREATE TABLE pgro.public.ro_probe (i INT)").collect()
    }
    assert(ddlEx.getMessage.contains("read-only") ||
      (ddlEx.getCause != null && ddlEx.getCause.getMessage.contains("read-only")),
      s"unexpected: $ddlEx")
    val cat = spark.sessionState.catalogManager.catalog("pgro")
      .asInstanceOf[graft.catalog.PostgresCatalog]
    val exEx = intercept[UnsupportedOperationException] {
      cat.execute("CREATE TABLE public.ro_probe2 (i INT)")
    }
    assert(exEx.getMessage.contains("read-only"))
    assert(!pg.hasTable("public", "ro_probe") && !pg.hasTable("public", "ro_probe2"))
  }

  test("mem endpoint applies bound WHERE server-side; unbound conjunct drops the tail") {
    pg
    def servedRows(sql: String): Int = {
      val in = new graft.codec.PgBlockInput(pg.copyOut(sql))
      val r = new graft.codec.PgBinaryReader(Seq(PgInt8))
      r.readHeader(in)
      var n = 0
      while (r.readRow(in).isDefined) n += 1
      n
    }
    // a bound comparison actually filters what the server serves — the
    // streaming source's key-range scans depend on this
    assert(servedRows(
      """COPY (SELECT "id" FROM "public"."people" WHERE ("id" >= 290)) TO STDOUT (FORMAT binary)""") == 10)
    // bound WHERE composes with ctid range, BETWEEN's AND intact
    assert(servedRows(
      """COPY (SELECT "id" FROM "public"."people" WHERE ctid BETWEEN '(0,0)'::tid AND '(2,0)'::tid AND ("id" >= 100)) TO STDOUT (FORMAT binary)""") == 28)
    // bound WHERE + pushed top-N: filter first, then the tail
    assert(servedRows(
      """COPY (SELECT "id" FROM "public"."people" WHERE ("id" < 100) ORDER BY "id" DESC NULLS LAST LIMIT 5) TO STDOUT (FORMAT binary)""") == 5)
    // an unbindable conjunct (LIKE) is served un-filtered and MUST
    // disable the tail — cutting rows the real WHERE would keep is the
    // one unsafe combination
    assert(servedRows(
      """COPY (SELECT "id" FROM "public"."people" WHERE ("name" LIKE 'name\_1%') ORDER BY "id" ASC NULLS FIRST LIMIT 5) TO STDOUT (FORMAT binary)""") == 300)
    // quoted string containing ' AND ' does not split the conjunct
    assert(servedRows(
      """COPY (SELECT "id" FROM "public"."people" WHERE ("name" = 'x AND (y')) TO STDOUT (FORMAT binary)""") == 0)
    // IN lists bind and filter (the runtime-join-filter shape)
    assert(servedRows(
      """COPY (SELECT "id" FROM "public"."people" WHERE ("id" IN (3, 7, 500))) TO STDOUT (FORMAT binary)""") == 2)
    assert(servedRows(
      """COPY (SELECT "id" FROM "public"."people" WHERE ("name" IN ('name_1', 'no_such'))) TO STDOUT (FORMAT binary)""") == 1)
  }

  test("served-scan cache: identical scans serve cached bytes, every mutation path invalidates") {
    val pg = InMemoryPg.forName("scan_cache_spec")
    val t = graft.meta.PgTransportFactory.open("mem:scan_cache_spec")
    try {
      t.execute("""CREATE TABLE "public"."sc" ("k" BIGINT)""")
      val stmt = """COPY (SELECT "k" FROM "public"."sc") TO STDOUT (FORMAT binary)"""
      def served(): Seq[Long] = {
        val in = new graft.codec.PgBlockInput(pg.copyOut(stmt))
        val r = new graft.codec.PgBinaryReader(Seq(PgInt8))
        r.readHeader(in)
        val out = scala.collection.mutable.ArrayBuffer.empty[Long]
        var row = r.readRow(in)
        while (row.isDefined) { out += row.get.getLong(0); row = r.readRow(in) }
        in.close()
        out.toSeq
      }
      import spark.implicits._
      Seq(1L, 2L, 3L).toDF("k").write.format("postgres")
        .option("dsn", "mem:scan_cache_spec").option("table", "sc")
        .mode("append").save()
      assert(served().sorted == Seq(1L, 2L, 3L))
      // repeat: identical statement, identical rows (the cached path)
      assert(served().sorted == Seq(1L, 2L, 3L))
      // COPY IN invalidates
      Seq(4L).toDF("k").write.format("postgres")
        .option("dsn", "mem:scan_cache_spec").option("table", "sc")
        .mode("append").save()
      assert(served().sorted == Seq(1L, 2L, 3L, 4L))
      // pushed DML through execute invalidates
      t.execute("""DELETE FROM "public"."sc" WHERE ("k" = 2)""")
      assert(served().sorted == Seq(1L, 3L, 4L))
      // direct slot seeding (the test-double back door) invalidates via
      // the row-count fingerprint
      val mt = pg.getTable("public", "sc")
      mt.slots += Some(new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](9L)))
      assert(served().sorted == Seq(1L, 3L, 4L, 9L))
    } finally t.close()
  }

  test("OFFSET pushes to the single-partition query scan, never to parallel ctid scans") {
    pg
    pg.clearCopyOutLog()
    val viaQuery = PgFunctions
      .postgresQuery(spark, dsn, """SELECT "id", "name" FROM "public"."people"""")
      .orderBy(col("id")).offset(280).limit(10)
      .collect().map(_.getLong(0)).toSeq
    assert(viaQuery == (280L until 290L))
    val pushed = pg.copyOutSnapshot.filter(_.contains("OFFSET"))
    assert(pushed.nonEmpty, s"OFFSET not pushed: ${pg.copyOutSnapshot}")
    assert(pushed.exists(s => s.contains("OFFSET 280") && s.contains("ORDER BY")),
      s"pushed statement malformed: $pushed")
    // the parallel ctid scan must NOT push (a full offset per task would
    // drop rows globally); Spark applies it host-side instead
    pg.clearCopyOutLog()
    val viaScan = spark.read.format("postgres")
      .option("dsn", dsn).option("table", "people")
      .option("pagesPerTask", "2").load()
      .orderBy(col("id")).offset(280).limit(10)
      .collect().map(_.getLong(0)).toSeq
    assert(viaScan == (280L until 290L))
    assert(pg.copyOutSnapshot.forall(!_.contains("OFFSET")),
      s"parallel scan pushed OFFSET: ${pg.copyOutSnapshot.filter(_.contains("OFFSET"))}")
  }

  test("copyDatabase clones a schema across servers: definitions + data, binary and text modes") {
    import spark.implicits._
    val srcDsn = "mem:copydb_src"
    val dstDsn = "mem:copydb_dst"
    // seed the source through the connector's own write path with a
    // types table that exercises the binary codec broadly (numeric,
    // bpchar, timestamps, arrays, geometry) plus a plain table
    locally {
      val t = graft.meta.PgTransportFactory.open(srcDsn)
      try {
        t.execute("""CREATE TABLE "public"."cp_typed" ("id" BIGINT, "nm" VARCHAR, """ +
          """"amt" DECIMAL(12,3), "tag" CHAR(4), "ts" TIMESTAMP, "ids" BIGINT[], "pt" POINT)""")
        t.execute("""CREATE TABLE "public"."cp_plain" ("k" INTEGER, "v" VARCHAR)""")
      } finally t.close()
    }
    (0 until 40).map(i => (i.toLong, s"n_$i", BigDecimal(i) + BigDecimal("0.125"),
        s"t$i", java.sql.Timestamp.valueOf(s"2024-01-0${i % 9 + 1} 10:00:00"),
        Seq(i.toLong, i * 2L), s"($i,${i * 2})"))
      .toDF("id", "nm", "amt", "tag", "ts", "ids", "pt")
      .select($"id", $"nm", $"amt".cast("decimal(12,3)"), $"tag", $"ts", $"ids",
        expr("named_struct('x', CAST(id AS DOUBLE), 'y', CAST(id * 2 AS DOUBLE))").as("pt"))
      .write.format("postgres").option("dsn", srcDsn).option("table", "cp_typed")
      .mode("append").save()
    Seq((1, "a"), (2, null.asInstanceOf[String])).toDF("k", "v")
      .write.format("postgres").option("dsn", srcDsn).option("table", "cp_plain")
      .mode("append").save()

    val copied = PgFunctions.copyDatabase(srcDsn, dstDsn)
    assert(copied.toSet == Set("cp_typed", "cp_plain"))
    def readAll(dsn: String, tbl: String) = spark.read.format("postgres")
      .option("dsn", dsn).option("table", tbl).load()
      .orderBy(col(spark.read.format("postgres").option("dsn", dsn)
        .option("table", tbl).load().columns.head))
    for (tbl <- copied) {
      val a = readAll(srcDsn, tbl).collect().toSeq
      val b = readAll(dstDsn, tbl).collect().toSeq
      assert(a == b, s"$tbl differs after binary copy")
      assert(a.nonEmpty)
    }
    // text mode round-trips the same rows through the text COPY fallback
    // (the plain table: the text writer's supported surface)
    val dstTxt = "mem:copydb_dst_txt"
    val copiedTxt = PgFunctions.copyDatabase(srcDsn, dstTxt, useTextFormat = true)
    assert(copiedTxt.toSet == Set("cp_typed", "cp_plain"))
    for (tbl <- copiedTxt) {
      val a = readAll(srcDsn, tbl).collect().toSeq
      val b = readAll(dstTxt, tbl).collect().toSeq
      assert(a == b, s"$tbl differs after text copy")
    }
    // re-copy without overwrite fails (table exists), with overwrite wins
    intercept[Exception] { PgFunctions.copyDatabase(srcDsn, dstDsn) }
    val again = PgFunctions.copyDatabase(srcDsn, dstDsn, overwrite = true)
    assert(again.toSet == Set("cp_typed", "cp_plain"))
    assert(readAll(dstDsn, "cp_plain").count() == 2)
  }
}
