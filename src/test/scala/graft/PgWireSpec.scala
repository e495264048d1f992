package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.meta.{InMemoryPg, PgTransportFactory, PgWireServer}

/** End-to-end tests of the socket transport: an [[InMemoryPg]] served
  * over real TCP via the frontend/backend protocol v3, consumed by the
  * full connector stack through a `tcp:` DSN. Everything that normally
  * travels in-process (discovery SQL, snapshot export, parallel COPY
  * OUT, COPY IN, Parse/Describe binding) crosses actual protocol
  * bytes here. */
class PgWireSpec extends AnyFunSuite with SharedSparkSession {

  private val memName = "wire_backing"
  private lazy val server = new PgWireServer(InMemoryPg.forName(memName))
  private lazy val tcpDsn = { server; server.dsn() }

  private def seed(): Unit = {
    val t = PgTransportFactory.open(s"mem:$memName")
    try {
      t.execute("""CREATE TABLE IF NOT EXISTS "public"."wt" ("k" INTEGER, "v" VARCHAR, "amt" DECIMAL(10,2))""")
    } finally t.close()
    val pg = InMemoryPg.forName(memName)
    if (pg.hasTable("public", "wt")) {
      import spark.implicits._
      val df = (1 to 500).map(i => (i, s"row_$i", BigDecimal(i) + BigDecimal("0.25")))
        .toDF("k", "v", "amt")
        .select($"k", $"v", $"amt".cast("decimal(10,2)"))
      df.write.format("postgres")
        .option("dsn", s"mem:$memName").option("table", "wt")
        .mode("overwrite").save()
    }
  }

  test("streaming source + sink run over the tcp: wire transport") {
    seed()
    val t = PgTransportFactory.open(tcpDsn)
    try t.execute(
      """CREATE TABLE IF NOT EXISTS "public"."wt_sink" ("k" INTEGER, "v" VARCHAR, "amt" DECIMAL(10,2))""")
    finally t.close()
    val stream = spark.readStream.format("postgres")
      .option("dsn", tcpDsn).option("table", "wt")
      .option("streamKey", "k").load()
    val ckpt = s"/dev/shm/graft_wire_stream_${System.nanoTime()}"
    val q = stream.writeStream.outputMode("append")
      .format("postgres")
      .option("dsn", tcpDsn).option("table", "wt_sink")
      .option("checkpointLocation", ckpt)
      .start()
    try {
      q.processAllAvailable()
      val landed = spark.read.format("postgres")
        .option("dsn", tcpDsn).option("table", "wt_sink").load()
      assert(landed.count() == 500)
      assert(landed.select("k").distinct().count() == 500)
    } finally {
      q.stop()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
    }
  }

  test("scan through tcp: matches the in-process mem: scan") {
    seed()
    def readVia(dsn: String) = spark.read.format("postgres")
      .option("dsn", dsn).option("table", "wt")
      .option("pagesPerTask", "2") // force several parallel COPY tasks
      .load().orderBy(col("k")).collect().toSeq
    val viaTcp = readVia(tcpDsn)
    val viaMem = readVia(s"mem:$memName")
    assert(viaTcp.size == 500)
    assert(viaTcp == viaMem)
  }

  test("filter pushdown travels the socket and returns correct rows") {
    seed()
    val rows = spark.read.format("postgres")
      .option("dsn", tcpDsn).option("table", "wt")
      .load()
      .filter(col("k") <= 10 && col("v").startsWith("row_"))
      .select(col("k"), col("amt"))
      .orderBy(col("k"))
      .collect()
    assert(rows.map(_.getInt(0)).toSeq == (1 to 10))
    assert(rows.head.get(1).toString == "1.25")
  }

  test("write path: COPY FROM STDIN over the socket, read back") {
    seed()
    import spark.implicits._
    val t = graft.meta.PgTransportFactory.open(tcpDsn)
    try t.execute("""CREATE TABLE IF NOT EXISTS "public"."wt_sink" ("k" INTEGER, "v" VARCHAR)""")
    finally t.close()
    Seq((1, "a"), (2, null.asInstanceOf[String]), (3, "c")).toDF("k", "v")
      .write.format("postgres")
      .option("dsn", tcpDsn).option("table", "wt_sink")
      .mode("overwrite").save()
    val back = spark.read.format("postgres")
      .option("dsn", tcpDsn).option("table", "wt_sink")
      .load().orderBy(col("k"))
      .collect().map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(back == Seq((1, "a"), (2, null), (3, "c")))
  }

  test("postgres_query binds an aggregate shape via Parse/Describe over the socket") {
    seed()
    val df = graft.functions.PgFunctions.postgresQuery(spark, tcpDsn,
      """SELECT "v", count(*) AS n, sum("k") AS sk FROM "public"."wt" WHERE "k" <= 20 GROUP BY "v"""")
    val rows = df.orderBy(col("v")).collect()
    assert(rows.length == 20)
    assert(rows.map(_.getLong(1)).forall(_ == 1L))
  }

  test("transport errors surface as readable failures, connection survives") {
    seed()
    val t = graft.meta.PgTransportFactory.open(tcpDsn)
    try {
      val e = intercept[RuntimeException](t.execute("GARBAGE STATEMENT"))
      assert(e.getMessage.contains("server error") || e.getMessage.nonEmpty)
      // connection still usable after the error round-trip
      t.execute("SET standard_conforming_strings = on")
    } finally t.close()
  }

  test("SQLSTATE travels from the raise site, never inferred from message text") {
    seed()
    val t = PgTransportFactory.open(tcpDsn)
    try {
      // missing relation: typed 42P01 attached where the backend raises
      val miss = intercept[graft.meta.PgServerErrorException](
        t.copyOut("""COPY (SELECT "k" FROM "public"."no_such_rel") """ +
          "TO STDOUT (FORMAT binary)").read())
      assert(miss.sqlState == "42P01", s"got ${miss.sqlState}: ${miss.getMessage}")
      // an unrelated failure whose MESSAGE merely contains the missing-
      // relation phrase must NOT be reclassified as table-not-found
      val other = intercept[graft.meta.PgServerErrorException](
        t.execute("FROBNICATE relation x does not exist"))
      assert(other.sqlState == "XX000", s"got ${other.sqlState}: ${other.getMessage}")
      // duplicate create: typed 42P07
      t.execute("""CREATE TABLE "public"."wire_dup_t" ("a" INTEGER)""")
      val dup = intercept[graft.meta.PgServerErrorException](
        t.execute("""CREATE TABLE "public"."wire_dup_t" ("a" INTEGER)"""))
      assert(dup.sqlState == "42P07", s"got ${dup.sqlState}: ${dup.getMessage}")
      // db names with pct-encoded path separators parse (the weird db
      // rides the startup packet; the backend here ignores it)
      val weird = graft.meta.PgTransportFactory.open(
        graft.meta.PgDsn.assemble(Map(
          "host" -> "127.0.0.1", "port" -> server.port.toString,
          "database" -> "we?ird/db&x")).get)
      try weird.execute("SET standard_conforming_strings = on")
      finally weird.close()
    } finally t.close()
  }

  test("SCRAM-SHA-256 authentication round-trips; wrong password is 28P01") {
    seed()
    val srv = new PgWireServer(InMemoryPg.forName(memName),
      PgWireServer.Scram(Map("alice" -> "correct-horse")))
    try {
      val ok = graft.meta.PgWireTransport.fromDsn(
        srv.dsn() + "?user=alice&password=correct-horse")
      try {
        // a full scan proves COPY works on an authenticated session
        val n = new java.io.DataInputStream(
          ok.copyOut("""COPY (SELECT "k" FROM "public"."wt") TO STDOUT (FORMAT binary)"""))
        assert(n.read() >= 0)
      } finally ok.close()
      val bad = intercept[RuntimeException] {
        graft.meta.PgWireTransport.fromDsn(srv.dsn() + "?user=alice&password=nope")
      }
      assert(bad.getMessage.contains("28P01"), bad.getMessage)
      val who = intercept[RuntimeException] {
        graft.meta.PgWireTransport.fromDsn(srv.dsn() + "?user=mallory&password=x")
      }
      assert(who.getMessage.contains("28P01"), who.getMessage)
      val nopw = intercept[IllegalStateException] {
        graft.meta.PgWireTransport.fromDsn(srv.dsn() + "?user=alice")
      }
      assert(nopw.getMessage.contains("no password"), nopw.getMessage)
    } finally srv.close()
  }

  test("md5 authentication round-trips; sslmode parses libpq-style") {
    seed()
    val srv = new PgWireServer(InMemoryPg.forName(memName),
      PgWireServer.Md5(Map("bob" -> "hunter2")))
    try {
      val ok = graft.meta.PgWireTransport.fromDsn(
        srv.dsn() + "?user=bob&password=hunter2&sslmode=prefer")
      try ok.execute("SET standard_conforming_strings = on") finally ok.close()
      val bad = intercept[RuntimeException] {
        graft.meta.PgWireTransport.fromDsn(srv.dsn() + "?user=bob&password=wrong")
      }
      assert(bad.getMessage.contains("28P01"), bad.getMessage)
      // sslmode that REQUIRES TLS refuses the plaintext-only server's
      // 'N' answer instead of silently downgrading (libpq behavior)
      val ssl = intercept[IllegalStateException] {
        graft.meta.PgWireTransport.fromDsn(srv.dsn() + "?user=bob&password=hunter2&sslmode=require")
      }
      assert(ssl.getMessage.contains("does not support SSL"), ssl.getMessage)
      val junk = intercept[IllegalArgumentException] {
        graft.meta.PgWireTransport.fromDsn(srv.dsn() + "?user=bob&password=hunter2&sslmode=bogus")
      }
      assert(junk.getMessage.contains("unknown sslmode"), junk.getMessage)
    } finally srv.close()
  }

  // ------------------------------------------------------------------ //
  // TLS: SSLRequest negotiation + JSSE handshake, the sslmode matrix,
  // and chain/hostname verification — the repo-side equivalent of the
  // reference's libpq SSL DSN coverage (test/sql/scanner/ssl.test).
  // ------------------------------------------------------------------ //

  private def tlsServer(auth: PgWireServer.Auth = PgWireServer.Trust): PgWireServer = {
    val mat = graft.meta.PgTlsTestMaterial.material
    new PgWireServer(InMemoryPg.forName(memName), auth,
      tls = Some(graft.meta.PgTls.serverContext(
        mat.keystorePath, graft.meta.PgTlsTestMaterial.StorePass.toCharArray)))
  }

  test("TLS handshake: sslmode=require/verify-ca/verify-full all work against an ssl=on server") {
    seed()
    val mat = graft.meta.PgTlsTestMaterial.material
    val srv = tlsServer()
    try {
      for (mode <- Seq(s"sslmode=require",
        s"sslmode=verify-ca&sslrootcert=${mat.rootCertPath}",
        s"sslmode=verify-full&sslrootcert=${mat.rootCertPath}",
        // libpq documents require+rootcert as verifying like verify-ca
        s"sslmode=require&sslrootcert=${mat.rootCertPath}")) {
        val t = graft.meta.PgWireTransport.fromDsn(srv.dsn() + "?user=x&" + mode)
        try {
          // COPY bytes over the encrypted channel prove the data path
          val in = new java.io.DataInputStream(
            t.copyOut("""COPY (SELECT "k" FROM "public"."wt") TO STDOUT (FORMAT binary)"""))
          assert(in.read() >= 0, mode)
          in.close()
        } finally t.close()
      }
    } finally srv.close()
  }

  test("TLS: full connector scan (parallel COPY) and COPY IN over an encrypted channel") {
    seed()
    val mat = graft.meta.PgTlsTestMaterial.material
    val srv = tlsServer()
    try {
      val dsn = srv.dsn() +
        s"?user=x&sslmode=verify-full&sslrootcert=${mat.rootCertPath}"
      val df = spark.read.format("postgres")
        .option("dsn", dsn).option("table", "wt")
        .option("pagesPerTask", "2") // several parallel TLS connections
        .load()
      assert(df.count() == 500)
      import spark.implicits._
      val t = PgTransportFactory.open(dsn)
      try t.execute("""CREATE TABLE IF NOT EXISTS "public"."wt_tls" ("k" INTEGER)""")
      finally t.close()
      Seq(7, 8, 9).toDF("k").write.format("postgres")
        .option("dsn", dsn).option("table", "wt_tls").mode("overwrite").save()
      val back = spark.read.format("postgres")
        .option("dsn", dsn).option("table", "wt_tls").load()
        .orderBy(col("k")).collect().map(_.getInt(0)).toSeq
      assert(back == Seq(7, 8, 9))
    } finally srv.close()
  }

  test("TLS: SCRAM runs over the encrypted channel; wrong password still 28P01") {
    seed()
    val mat = graft.meta.PgTlsTestMaterial.material
    val srv = tlsServer(PgWireServer.Scram(Map("carol" -> "tls-pass")))
    try {
      val dsn = srv.dsn() +
        s"?user=carol&sslmode=verify-full&sslrootcert=${mat.rootCertPath}"
      val ok = graft.meta.PgWireTransport.fromDsn(dsn + "&password=tls-pass")
      try {
        val in = new java.io.DataInputStream(
          ok.copyOut("""COPY (SELECT "k" FROM "public"."wt") TO STDOUT (FORMAT binary)"""))
        assert(in.read() >= 0)
        in.close()
      } finally ok.close()
      val bad = intercept[RuntimeException] {
        graft.meta.PgWireTransport.fromDsn(dsn + "&password=wrong")
      }
      assert(bad.getMessage.contains("28P01"), bad.getMessage)
    } finally srv.close()
  }

  test("TLS: verify-ca rejects a chain anchored at a different CA; require still connects") {
    seed()
    val rogue = graft.meta.PgTlsTestMaterial.generate() // unrelated CA
    val srv = tlsServer()
    try {
      val rejected = intercept[Exception] {
        graft.meta.PgWireTransport.fromDsn(srv.dsn() +
          s"?user=x&sslmode=verify-ca&sslrootcert=${rogue.rootCertPath}")
      }
      def chainFailure(e: Throwable): Boolean =
        e != null && (e.isInstanceOf[javax.net.ssl.SSLHandshakeException] ||
          e.isInstanceOf[java.security.cert.CertificateException] ||
          chainFailure(e.getCause))
      assert(chainFailure(rejected), rejected.toString)
      // require (no root cert) = encrypt without authenticating: connects
      val t = graft.meta.PgWireTransport.fromDsn(srv.dsn() + "?user=x&sslmode=require")
      try t.execute("SET standard_conforming_strings = on") finally t.close()
      // missing root cert for verify-* is a clear config error
      val noCert = intercept[IllegalArgumentException] {
        graft.meta.PgWireTransport.fromDsn(srv.dsn() + "?user=x&sslmode=verify-ca")
      }
      assert(noCert.getMessage.contains("sslrootcert"), noCert.getMessage)
    } finally srv.close()
  }

  test("TLS: prefer upgrades to TLS when offered, falls back to plaintext when not") {
    seed()
    val srv = tlsServer()
    try {
      // against ssl=on: prefer takes the TLS path (require-without-cert trust)
      val t = graft.meta.PgWireTransport.fromDsn(srv.dsn() + "?user=x&sslmode=prefer")
      try t.execute("SET standard_conforming_strings = on") finally t.close()
    } finally srv.close()
    // against plaintext-only: prefer falls back (covered above in the
    // md5 test via sslmode=prefer against the non-TLS server)
  }

  test("sslmode=allow retries over TLS against a hostssl-only server") {
    seed()
    val mat = graft.meta.PgTlsTestMaterial.material
    val srv = new PgWireServer(InMemoryPg.forName(memName), PgWireServer.Trust,
      tls = Some(graft.meta.PgTls.serverContext(
        mat.keystorePath, graft.meta.PgTlsTestMaterial.StorePass.toCharArray)),
      tlsOnly = true)
    try {
      // a direct plaintext startup is refused (the pg_hba analogue)…
      // the refusal must surface as the TYPED server error: the allow
      // retry dispatches on the type, not the message text
      val refused = intercept[graft.meta.PgServerErrorException] {
        new graft.meta.PgWireTransport("127.0.0.1", srv.port, "graft", "x")
      }
      assert(refused.getMessage.contains("server error"), refused.getMessage)
      // …and allow's second attempt reconnects over TLS (libpq flow)
      val t = graft.meta.PgWireTransport.fromDsn(srv.dsn() + "?user=x&sslmode=allow")
      try t.execute("SET standard_conforming_strings = on") finally t.close()
    } finally srv.close()
  }

  test("SCRAM primitives agree with RFC 7677 §3's SCRAM-SHA-256 test vector") {
    import graft.meta.PgScram
    // RFC 7677 example: user/pass "user"/"pencil", fixed nonces
    val clientFirstBare = "n=user,r=rOprNGfwEbeRWgbNEkqO"
    val serverFirst = "r=rOprNGfwEbeRWgbNEkqO%hvYDpWUa2RaTCAfuxFIlj)hNlF$k0,s=W22ZaJ0SNY7soEsUEjb6gQ==,i=4096"
    val clientFinalNoProof = "c=biws,r=rOprNGfwEbeRWgbNEkqO%hvYDpWUa2RaTCAfuxFIlj)hNlF$k0"
    val sf = PgScram.parseServerFirst(serverFirst)
    assert(sf.iterations == 4096)
    val salted = PgScram.saltedPassword("pencil", sf.salt, sf.iterations)
    val authMsg = PgScram.authMessage(clientFirstBare, serverFirst, clientFinalNoProof)
    assert(PgScram.b64(PgScram.clientProof(salted, authMsg)) ==
      "dHzbZapWIk4jUhN+Ute9ytag9zjfMHgsqmmiz7AndVQ=")
    assert(PgScram.b64(PgScram.serverSignature(salted, authMsg)) ==
      "6rriTRBi23WpRR/wtup+mMhUZUn/dB5nLTJRsjl95G4=")
    assert(PgScram.verifyClientProof(PgScram.storedKey(salted), authMsg,
      PgScram.clientProof(salted, authMsg)))
  }

  test("protocol framing round-trips arbitrary message bodies") {
    import java.io._
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import graft.meta.PgWireProtocol
    val gen = for {
      tag <- Gen.oneOf('Q'.toByte, 'd'.toByte, 'E'.toByte, 'Z'.toByte, 'X'.toByte)
      body <- Gen.containerOf[Array, Byte](Gen.choose(Byte.MinValue, Byte.MaxValue))
    } yield (tag, body)
    val samples = (0 until 200).flatMap(i => gen.apply(Gen.Parameters.default, Seed(i.toLong)))
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    samples.foreach { case (t, b) => PgWireProtocol.send(out, t, b) }
    out.flush()
    val in = new DataInputStream(new ByteArrayInputStream(bos.toByteArray))
    samples.foreach { case (t, b) =>
      val m = PgWireProtocol.read(in)
      assert(m.tag == t)
      assert(java.util.Arrays.equals(m.body, b))
    }
    assert(in.available() == 0)
  }

  test("error fields encode and decode") {
    import graft.meta.PgWireProtocol
    val body = PgWireProtocol.errorBody("ERROR", "42P01", "relation \"x\" does not exist")
    val f = PgWireProtocol.errorFields(PgWireProtocol.Msg('E'.toByte, body))
    assert(f('S') == "ERROR" && f('C') == "42P01" && f('M').contains("does not exist"))
  }

  test("varied type payloads round-trip identically over tcp and mem") {
    seed()
    import spark.implicits._
    val t = graft.meta.PgTransportFactory.open(tcpDsn)
    try t.execute(
      """CREATE TABLE IF NOT EXISTS "public"."wt_types" (
        |  "b" BOOLEAN, "s" SMALLINT, "i" INTEGER, "l" BIGINT,
        |  "f" REAL, "d" DOUBLE PRECISION, "de" DECIMAL(10,2),
        |  "st" VARCHAR, "bin" BYTEA, "dt" DATE, "ts" TIMESTAMP,
        |  "a" BIGINT[])""".stripMargin)
    finally t.close()
    val df = spark.sql(
      """SELECT true AS b, 1S AS s, 2 AS i, 3L AS l, CAST(1.5 AS FLOAT) AS f,
        |  2.5D AS d, CAST(12.34 AS DECIMAL(10,2)) AS de,
        |  'héllo\u0000wörld' AS st, X'0102FF' AS bin, DATE'2020-02-29' AS dt,
        |  TIMESTAMP_NTZ'2020-02-29 12:34:56.789' AS ts, array(1L, NULL, 3L) AS a
        |UNION ALL
        |SELECT NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL""".stripMargin)
    df.write.format("postgres")
      .option("dsn", tcpDsn).option("table", "wt_types")
      .option("nullByteReplacement", " ")
      .mode("overwrite").save()
    def readBack(dsn: String) = spark.read.format("postgres")
      .option("dsn", dsn).option("table", "wt_types")
      .load().orderBy(col("b").desc_nulls_last).collect().toSeq
    val viaTcp = readBack(tcpDsn)
    val viaMem = readBack(s"mem:$memName")
    assert(viaTcp.length == 2)
    assert(viaTcp == viaMem)
    // NULL-byte replacement applied on write (PG cannot store \u0000)
    assert(viaTcp.head.getAs[String]("st").contains("héllo"))
  }

  test("catalog close (DETACH analogue) drains pooled sockets; re-attach re-pools") {
    val server = new graft.meta.PgWireServer(InMemoryPg.forName("wire_detach"))
    try {
      val dsn = server.dsn()
      val cat = new graft.catalog.PostgresCatalog
      val opts = new java.util.HashMap[String, String](); opts.put("dsn", dsn)
      cat.initialize("pgd",
        new org.apache.spark.sql.util.CaseInsensitiveStringMap(opts))
      // the init version probe pooled one idle connection
      val drained = cat.close()
      assert(drained >= 1, s"expected at least the probe connection drained, got $drained")
      val before = server.connectionsAccepted
      // detached catalog stays usable: next use dials a FRESH socket
      assert(cat.listNamespaces().nonEmpty)
      assert(server.connectionsAccepted > before,
        "re-attach after close must open a new physical connection")
      cat.close()
    } finally server.close()
  }

  test("connection pool reuses one socket when the cache is on, not when off") {
    // dedicated server: the shared one already has pooled connections
    val server = new graft.meta.PgWireServer(InMemoryPg.forName("wire_pool"))
    val tcpDsn = server.dsn()
    val before = server.connectionsAccepted
    val t1 = graft.meta.PgTransportFactory.open(tcpDsn)
    t1.execute("SET standard_conforming_strings = on"); t1.close()
    val t2 = graft.meta.PgTransportFactory.open(tcpDsn)
    t2.execute("SET standard_conforming_strings = on"); t2.close()
    val cached = server.connectionsAccepted - before
    assert(cached == 1, s"expected one physical connection with cache on, got $cached")
    graft.meta.PgTransportFactory.connectionCacheEnabled = false
    try {
      // first open may still drain the connection cached while the
      // cache was on; after that every cycle must dial fresh
      (1 to 3).foreach { _ =>
        val t = graft.meta.PgTransportFactory.open(tcpDsn)
        t.execute("SET standard_conforming_strings = on"); t.close()
      }
      val uncached = server.connectionsAccepted - before - cached
      assert(uncached >= 2, s"expected fresh connections with cache off, got $uncached")
    } finally graft.meta.PgTransportFactory.connectionCacheEnabled = true
  }

  test("connection budget merges scan ranges and caps live sockets") {
    // fresh server+DSN → fresh pool bucket, so the accept counter only
    // sees this scan's connections
    val srv = new graft.meta.PgWireServer(InMemoryPg.forName(memName))
    seed()
    val before = srv.connectionsAccepted
    val n = spark.read.format("postgres")
      .option("dsn", srv.dsn()).option("table", "wt")
      .option("pagesPerTask", "1") // 8 pages → 8 ranges, merged to ≤ 2
      .option("connectionLimit", "2")
      .load().count()
    assert(n == 500)
    val used = srv.connectionsAccepted - before
    // ≤ 2 scan connections + 1 discovery + 1 unpooled snapshot lease;
    // without the range merge this would be 8 scan connections
    assert(used >= 2 && used <= 4,
      s"scan opened $used sockets, budget is 2 scan (+1 discovery, +1 lease)")
  }

  /** A scripted backend for framing tests: trust startup, CommandComplete
    * for every statement, and for a `COPY … TO STDOUT` a CopyOutResponse
    * followed by whatever `copy` writes (CopyDone/CommandComplete or an
    * ErrorResponse); ReadyForQuery closes each reply. */
  private final class ScriptedServer(copy: java.io.DataOutputStream => Unit)
      extends AutoCloseable {
    import java.io._
    import graft.meta.PgWireProtocol.send
    private val server = new java.net.ServerSocket(0)
    val accepted = new java.util.concurrent.atomic.AtomicInteger
    def dsn: String = s"tcp:127.0.0.1:${server.getLocalPort}/db"
    private val acceptor = new Thread(() => {
      try while (true) {
        val sock = server.accept()
        accepted.incrementAndGet()
        val t = new Thread(() => serve(sock))
        t.setDaemon(true)
        t.start()
      } catch { case _: IOException => } // closed
    })
    acceptor.setDaemon(true)
    acceptor.start()

    private def serve(sock: java.net.Socket): Unit = try {
      val in = new DataInputStream(new BufferedInputStream(sock.getInputStream))
      val out = new DataOutputStream(new BufferedOutputStream(sock.getOutputStream, 1 << 16))
      in.readFully(new Array[Byte](in.readInt() - 4)) // StartupMessage
      send(out, 'R', Array[Byte](0, 0, 0, 0)) // AuthenticationOk
      var open = true
      while (open) {
        send(out, 'Z', Array[Byte]('I'))
        out.flush()
        val m = graft.meta.PgWireProtocol.read(in)
        m.tag.toChar match {
          case 'Q' if new String(m.body, "UTF-8").startsWith("COPY") =>
            send(out, 'H', Array[Byte](1, 0, 0))
            copy(out)
          case 'Q' => send(out, 'C', graft.meta.PgWireProtocol.cstr("OK"))
          case _ => open = false // Terminate
        }
      }
    } catch { case _: IOException => } finally sock.close()

    override def close(): Unit = server.close()
  }

  /** PGCOPY (bigint, text) rows, returned as the header, each tuple and
    * the trailer as separate byte arrays. */
  private def pgcopyParts(rows: Seq[(Long, String)]): Seq[Array[Byte]] = {
    import graft.types.PgType.{PgInt8, PgText}
    val w = new graft.codec.PgBinaryWriter(Seq(PgInt8, PgText))
    def bytes(f: java.io.DataOutputStream => Unit): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val d = new java.io.DataOutputStream(bos)
      f(d); d.flush(); bos.toByteArray
    }
    bytes(w.writeHeader) +: rows.map { case (k, v) =>
      bytes(w.writeRow(_, new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](k, org.apache.spark.unsafe.types.UTF8String.fromString(v)))))
    } :+ bytes(w.writeTrailer)
  }

  private def copyData(out: java.io.DataOutputStream, b: Array[Byte]): Unit =
    graft.meta.PgWireProtocol.send(out, 'd', b)

  private def copyDone(out: java.io.DataOutputStream): Unit = {
    graft.meta.PgWireProtocol.send(out, 'c', Array.emptyByteArray)
    graft.meta.PgWireProtocol.send(out, 'C', graft.meta.PgWireProtocol.cstr("COPY"))
  }

  private def decodeAll(in: java.io.InputStream): Seq[(Long, String)] = {
    import graft.types.PgType.{PgInt8, PgText}
    val r = new graft.codec.PgBinaryReader(Seq(PgInt8, PgText))
    val bi = new graft.codec.PgBlockInput(in)
    r.readHeader(bi)
    Iterator.continually(r.readRow(bi)).takeWhile(_.isDefined)
      .map(_.get).map(row => (row.getLong(0), row.getUTF8String(1).toString)).toList
  }

  test("copy-out stream reassembles scripted CopyData frames byte for byte") {
    val big = "x" * (300 * 1024) // one frame far larger than the reader's buffer
    val rows = Seq(1L -> "split-me-across-frames", 2L -> "b", 3L -> big, 4L -> "d", 5L -> "")
    val parts = pgcopyParts(rows)
    val payload = parts.reduce(_ ++ _)
    val first = parts(0) ++ parts(1)
    // 5 bytes into row 1's text value: field count (2), bigint (4 + 8),
    // text length word (4)
    val cut = parts(0).length + 23
    val srv = new ScriptedServer(out => {
      copyData(out, first.take(cut)) // header + half a field ...
      graft.meta.PgWireProtocol.send(out, 'N', Array[Byte](0)) // a notice between frames
      copyData(out, first.drop(cut)) // ... and the rest of it
      copyData(out, Array.emptyByteArray)
      parts.drop(2).foreach(copyData(out, _)) // per tuple, the 300 KB one too; trailer alone
      copyDone(out)
    })
    try {
      val t = graft.meta.PgWireTransport.fromDsn(srv.dsn)
      try {
        val sql = "COPY (SELECT k, v FROM t) TO STDOUT (FORMAT binary)"
        val in = t.copyOut(sql)
        try assert(decodeAll(in) == rows) finally in.close()
        // odd read sizes, single bytes and reads larger than the buffer
        // all see the same bytes
        for (step <- Seq(1, 7, 4096, 1 << 20)) {
          val in = t.copyOut(sql)
          val got = new java.io.ByteArrayOutputStream()
          val buf = new Array[Byte](step)
          def next(): Int =
            if (step > 1) in.read(buf)
            else { val b = in.read(); if (b < 0) -1 else { buf(0) = b.toByte; 1 } }
          var n = next()
          while (n >= 0) {
            assert(n > 0)
            got.write(buf, 0, n)
            n = next()
          }
          assert(java.util.Arrays.equals(got.toByteArray, payload), s"read size $step")
          in.close()
        }
        t.execute("SET standard_conforming_strings = on") // back at ReadyForQuery
      } finally t.close()
    } finally srv.close()
  }

  test("an ErrorResponse mid-COPY surfaces its SQLSTATE and the connection is not pooled") {
    val parts = pgcopyParts((1L to 3L).map(k => k -> s"row_$k"))
    val fail = new java.util.concurrent.atomic.AtomicBoolean(false)
    val srv = new ScriptedServer(out => {
      parts.dropRight(1).foreach(copyData(out, _))
      if (fail.get())
        graft.meta.PgWireProtocol.send(out, 'E', graft.meta.PgWireProtocol.errorBody(
          "ERROR", "57014", "canceling statement due to user request"))
      else { copyData(out, parts.last); copyDone(out) }
    })
    try {
      val sql = "COPY (SELECT k, v FROM t) TO STDOUT (FORMAT binary)"
      def scan(): Seq[(Long, String)] = {
        val t = PgTransportFactory.open(srv.dsn)
        try { val in = t.copyOut(sql); try decodeAll(in) finally in.close() }
        finally t.close()
      }
      assert(scan().length == 3)
      assert(scan().length == 3)
      assert(srv.accepted.get() == 1, "a completed COPY returns its connection to the pool")
      fail.set(true)
      val e = intercept[graft.meta.PgServerErrorException](scan())
      assert(e.sqlState == "57014")
      fail.set(false)
      assert(scan().length == 3)
      assert(srv.accepted.get() == 2, "the connection that saw the error must not be reused")
    } finally srv.close()
  }

  test("a tcp: reader closed after its first batch does not drain the rest of the COPY") {
    import graft.types.PgType.{PgInt8, PgText}
    import org.apache.spark.sql.types._
    val parts = pgcopyParts((1L to 4096L).map(k => k -> s"row_$k"))
    // a COPY that never ends: a close that drained to CopyDone would
    // never return
    val srv = new ScriptedServer(out => {
      copyData(out, parts.head)
      Iterator.from(0).foreach(k => copyData(out, parts(1 + k % 4096)))
    })
    try {
      val reader = new graft.sources.postgres.PostgresPartitionReader(srv.dsn,
        "COPY (SELECT k, v FROM t) TO STDOUT (FORMAT binary)", None,
        Seq(graft.sqlgen.PgSqlGen.ScanColumn("k", PgInt8),
          graft.sqlgen.PgSqlGen.ScanColumn("v", PgText)),
        StructType(Seq(StructField("k", LongType), StructField("v", StringType))))
      (1 to 2048).foreach(_ => assert(reader.next()))
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      Await.result(Future(reader.close()), scala.concurrent.duration.Duration(60, "s"))
      val t = PgTransportFactory.open(srv.dsn)
      t.close()
      assert(srv.accepted.get() == 2, "the half-read connection must be discarded, not pooled")
    } finally srv.close()
  }
}
