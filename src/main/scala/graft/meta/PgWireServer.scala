package graft.meta

import java.io.{BufferedInputStream, BufferedOutputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import java.net.{ServerSocket, Socket, SocketException}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.atomic.AtomicBoolean

import graft.types.PgType

/** A PostgreSQL-wire-protocol (v3) loopback server that fronts any
  * [[PgTransport]] backend — in this offline build, [[InMemoryPg]].
  *
  * Purpose: prove the `tcp:` [[PgWireTransport]] end to end. The
  * integration tests serve an `InMemoryPg` over a real TCP socket and
  * run the whole connector stack (discovery, parallel COPY-OUT scans,
  * COPY-IN writes, Parse/Describe binding) through actual protocol
  * bytes rather than in-process calls — the same framing a live
  * PostgreSQL would exchange. Auth per [[PgWireServer.Auth]]
  * (trust/md5/SCRAM); with `tls` set, an SSLRequest is answered 'S'
  * and the connection upgrades to TLS before the StartupMessage,
  * like a server with ssl=on (without it, SSLRequest is answered
  * 'N'). With `tlsOnly` set, a startup on a plaintext connection is
  * refused with the error a hostssl-only pg_hba.conf produces — the
  * server shape libpq's `sslmode=allow` retry-with-TLS exists for.
  * One thread per connection (connection counts are capped by
  * the connector's own 64-permit pool, so blocking IO is fine).
  */
final class PgWireServer(backend: PgTransport,
    auth: PgWireServer.Auth = PgWireServer.Trust,
    tls: Option[javax.net.ssl.SSLContext] = None,
    tlsOnly: Boolean = false) extends AutoCloseable {

  import PgWireProtocol._

  private val server = new ServerSocket(0) // ephemeral port
  private val running = new AtomicBoolean(true)
  private val accepted = new java.util.concurrent.atomic.AtomicInteger

  def port: Int = server.getLocalPort
  def dsn(db: String = "graft"): String = s"tcp:127.0.0.1:$port/$db"
  /** Total connections accepted — lets tests observe pooling/reuse. */
  def connectionsAccepted: Int = accepted.get()

  private val acceptor = new Thread(() => {
    while (running.get()) {
      try {
        val sock = server.accept()
        accepted.incrementAndGet()
        val t = new Thread(() => serve(sock), s"pgwire-conn-${sock.getPort}")
        t.setDaemon(true)
        t.start()
      } catch {
        case _: SocketException => // closed
        case _: Throwable if !running.get() =>
      }
    }
  }, "pgwire-acceptor")
  acceptor.setDaemon(true)
  acceptor.start()

  override def close(): Unit = if (running.compareAndSet(true, false)) {
    try server.close() catch { case _: Throwable => }
  }

  // ------------------------------------------------------------------ //

  private def serve(raw: Socket): Unit = {
    raw.setTcpNoDelay(true)
    var sock: Socket = raw
    var out: DataOutputStream = null
    try {
      // SSLRequest phase runs on the undecorated stream: the client
      // waits for our one-byte answer before sending anything more, so
      // nothing can be over-read into a buffer here.
      val rin = new DataInputStream(raw.getInputStream)
      var len = rin.readInt() - 4
      var code = rin.readInt()
      if (code == PgTls.SslRequestCode) {
        tls match {
          case Some(ctx) =>
            raw.getOutputStream.write('S'); raw.getOutputStream.flush()
            sock = PgTls.serverWrap(ctx, raw) // handshake on first IO
          case None =>
            raw.getOutputStream.write('N'); raw.getOutputStream.flush()
        }
      }
      val in = new DataInputStream(new BufferedInputStream(sock.getInputStream, 1 << 16))
      out = new DataOutputStream(new BufferedOutputStream(sock.getOutputStream, 1 << 16))
      if (code == PgTls.SslRequestCode) {
        // post-negotiation the client re-sends its startup packet
        len = in.readInt() - 4
        code = in.readInt()
      }
      if (tlsOnly && (sock eq raw)) {
        // hostssl-only pg_hba: plaintext connections are rejected at
        // startup, the same error a real server produces with SSL off
        sendError(out, "no pg_hba.conf entry for host, SSL off")
        out.flush()
        return
      }
      if (!startup(len, code, in, out)) return
      var open = true
      var parsedSql = "" // unnamed prepared statement from Parse
      while (open) {
        val m = read(in)
        m.tag.toChar match {
          case 'Q' => simpleQuery(readCstr(m.in), in, out)
          case 'P' =>
            val mi = m.in
            readCstr(mi) // statement name (unnamed)
            parsedSql = readCstr(mi)
            send(out, '1', Array.emptyByteArray) // ParseComplete
          case 'D' =>
            val mi = m.in
            mi.read() // 'S' | 'P'
            readCstr(mi)
            describe(parsedSql, out)
          case 'S' =>
            readyForQuery(out)
          case 'X' => open = false
          case 'H' => out.flush() // Flush
          case other =>
            sendError(out, s"unsupported frontend message '$other'")
            readyForQuery(out)
        }
      }
    } catch {
      case _: java.io.EOFException =>
      case _: SocketException =>
      case _: javax.net.ssl.SSLException => // failed/aborted handshake
      case e: Throwable =>
        try {
          if (out != null) {
            sendError(out, "", e)
            readyForQuery(out)
          }
        } catch { case _: Throwable => }
    } finally {
      try sock.close() catch { case _: Throwable => }
      try raw.close() catch { case _: Throwable => }
    }
  }

  /** StartupMessage (length-prefixed, untagged; first length+code
    * already consumed by the SSLRequest phase in `serve`) →
    * authentication exchange per the configured [[PgWireServer.Auth]]
    * mode → AuthenticationOk + ReadyForQuery. */
  private def startup(len: Int, code: Int, in: DataInputStream,
      out: DataOutputStream): Boolean = {
    if (code == PgTls.SslRequestCode) {
      sendError(out, "duplicate SSLRequest"); out.flush()
      return false
    }
    if (code != ProtocolV3) {
      sendError(out, s"unsupported protocol version $code")
      return false
    }
    val rest = new Array[Byte](len - 4)
    in.readFully(rest)
    // parse the user out of the startup key/value pairs (auth needs it)
    val params = {
      val di = new DataInputStream(new java.io.ByteArrayInputStream(rest))
      val kv = scala.collection.mutable.Map.empty[String, String]
      var k = readCstr(di)
      while (k.nonEmpty) { kv(k) = readCstr(di); k = readCstr(di) }
      kv.toMap
    }
    if (!authExchange(params.getOrElse("user", ""), in, out)) return false
    val ok = new ByteArrayOutputStream()
    new DataOutputStream(ok).writeInt(0)
    send(out, 'R', ok.toByteArray) // AuthenticationOk
    paramStatus(out, "server_version", "16.0 (graft InMemoryPg)")
    paramStatus(out, "standard_conforming_strings", "on")
    readyForQuery(out)
    true
  }

  private def authFail(out: DataOutputStream, user: String): Boolean = {
    send(out, 'E', errorBody("FATAL", "28P01",
      s"""password authentication failed for user "$user""""))
    out.flush()
    false
  }

  /** Run the configured authentication exchange; false aborts the
    * connection (after a 28P01, like a live server). */
  private def authExchange(user: String, in: DataInputStream,
      out: DataOutputStream): Boolean = auth match {
    case PgWireServer.Trust => true
    case PgWireServer.Scram(users) =>
      // AuthenticationSASL advertising SCRAM-SHA-256
      val adv = new ByteArrayOutputStream()
      val d = new DataOutputStream(adv)
      d.writeInt(10)
      d.write(cstr(PgScram.Mechanism)); d.write(0)
      send(out, 'R', adv.toByteArray); out.flush()
      val init = read(in)
      if (init.tag.toChar != 'p') return authFail(out, user)
      val ii = init.in
      if (readCstr(ii) != PgScram.Mechanism) return authFail(out, user)
      val ilen = ii.readInt()
      val ibytes = new Array[Byte](ilen)
      ii.readFully(ibytes)
      val clientFirst = new String(ibytes, UTF_8)
      // gs2 header "n,," (no channel binding) then client-first-bare
      if (!clientFirst.startsWith("n,,")) return authFail(out, user)
      val clientFirstBare = clientFirst.substring(3)
      val cnonce: String =
        PgScram.attrs(clientFirstBare).getOrElse('r', return authFail(out, user))
      // unknown users get an unguessable random password and run the
      // FULL exchange, failing only after client-final — the same
      // protocol step as a wrong password, so user existence is not
      // enumerable from where the failure happens (a live server's
      // mock-authentication behaves the same way)
      locally {
          val rng = new java.security.SecureRandom()
          val pw = users.getOrElse(user, {
            val decoy = new Array[Byte](18)
            rng.nextBytes(decoy)
            PgScram.b64(decoy)
          })
          val salt = new Array[Byte](16)
          rng.nextBytes(salt)
          val iters = PgScram.DefaultIterations
          val nonce = cnonce + PgScram.nonce(rng)
          val serverFirst = s"r=$nonce,s=${PgScram.b64(salt)},i=$iters"
          val cont = new ByteArrayOutputStream()
          val cd = new DataOutputStream(cont)
          cd.writeInt(11)
          cd.write(serverFirst.getBytes(UTF_8))
          send(out, 'R', cont.toByteArray); out.flush()
          val fin = read(in)
          if (fin.tag.toChar != 'p') return authFail(out, user)
          val clientFinal = new String(fin.body, UTF_8)
          val a = PgScram.attrs(clientFinal)
          val proof = a.getOrElse('p', return authFail(out, user))
          if (!a.get('r').contains(nonce)) return authFail(out, user)
          // a malformed client-final can carry a p attribute without
          // the ",p=" separator (e.g. the whole message is "p=...");
          // RFC shape requires proof last — treat anything else as an
          // auth failure, not a StringIndexOutOfBounds crash
          val proofSep = clientFinal.lastIndexOf(",p=")
          if (proofSep < 0) return authFail(out, user)
          val noProof = clientFinal.substring(0, proofSep)
          val authMsg = PgScram.authMessage(clientFirstBare, serverFirst, noProof)
          val salted = PgScram.saltedPassword(pw, salt, iters)
          if (!PgScram.verifyClientProof(PgScram.storedKey(salted), authMsg,
              PgScram.unb64(proof)))
            return authFail(out, user)
          val sig = PgScram.serverSignature(salted, authMsg)
          val fb = new ByteArrayOutputStream()
          val fd = new DataOutputStream(fb)
          fd.writeInt(12)
          fd.write(s"v=${PgScram.b64(sig)}".getBytes(UTF_8))
          send(out, 'R', fb.toByteArray); out.flush()
          true
      }
    case PgWireServer.Md5(users) =>
      val salt = new Array[Byte](4)
      new java.security.SecureRandom().nextBytes(salt)
      val req = new ByteArrayOutputStream()
      val d = new DataOutputStream(req)
      d.writeInt(5); d.write(salt)
      send(out, 'R', req.toByteArray); out.flush()
      val resp = read(in)
      if (resp.tag.toChar != 'p') return authFail(out, user)
      val got = readCstr(resp.in)
      val expect = users.get(user).map(pw => PgMd5.response(user, pw, salt))
      if (!expect.contains(got)) authFail(out, user) else true
  }

  private def paramStatus(out: DataOutputStream, k: String, v: String): Unit = {
    val b = new ByteArrayOutputStream()
    b.write(cstr(k)); b.write(cstr(v))
    send(out, 'S', b.toByteArray)
  }

  private def readyForQuery(out: DataOutputStream): Unit = {
    send(out, 'Z', Array[Byte]('I'))
    out.flush()
  }

  /** Protocol-level error with no backend origin: XX000. */
  private def sendError(out: DataOutputStream, message: String): Unit =
    send(out, 'E', errorBody("ERROR", "XX000", message))

  /** Backend error: forward the SQLSTATE the raise site attached
    * ([[PgBackendException]], walked through the cause chain) so wire
    * clients branch on the error CLASS (the catalog's 42P01 →
    * NoSuchTable classification depends on this). Never inferred from
    * message text — an unrelated error that merely mentions a missing
    * relation must NOT be reclassified as table-not-found. */
  private def sendError(out: DataOutputStream, context: String, e: Throwable): Unit =
    send(out, 'E', errorBody("ERROR", backendState(e),
      s"$context${e.getClass.getSimpleName}: ${e.getMessage}"))

  /** SQLSTATE carried by a [[PgBackendException]] anywhere in the
    * cause chain; XX000 otherwise. */
  private def backendState(e: Throwable): String = {
    var c: Throwable = e
    while (c != null) {
      c match {
        case b: PgBackendException => return b.sqlState
        case _ =>
      }
      c = if (c eq c.getCause) null else c.getCause
    }
    "XX000"
  }

  private def commandComplete(out: DataOutputStream, tag: String): Unit =
    send(out, 'C', cstr(tag))

  // ------------------------------------------------------------------ //

  private def simpleQuery(sql: String, in: DataInputStream, out: DataOutputStream): Unit = {
    val upper = sql.trim.toUpperCase
    try {
      if (upper.startsWith("COPY") && upper.contains("TO STDOUT")) copyOut(sql, out)
      else if (upper.startsWith("COPY") && upper.contains("FROM STDIN")) copyIn(sql, in, out)
      else if (upper.startsWith("SELECT") || upper.startsWith("WITH") ||
        upper.startsWith("SHOW") || upper.startsWith("VALUES")) select(sql, out)
      else {
        backend.execute(sql)
        commandComplete(out, firstWord(sql))
      }
    } catch {
      case e: Throwable => sendError(out, "", e)
    }
    readyForQuery(out)
  }

  private def firstWord(sql: String): String =
    sql.trim.split("\\s+").headOption.map(_.toUpperCase).getOrElse("OK")

  /** Text-format result set: RowDescription (generic `text` columns —
    * the discovery layer consumes values positionally) + DataRows. */
  private def select(sql: String, out: DataOutputStream): Unit = {
    val rows = backend.query(sql)
    // arity from the first row when there is one; for an EMPTY result
    // ask the backend's Describe path — advertising a fixed 1 column
    // mislabels every empty multi-column result for any consumer that
    // shapes itself from RowDescription
    val ncols = rows.headOption.map(_.length).getOrElse(
      try math.max(1, backend.describe(sql).length)
      catch { case _: Exception => 1 })
    val desc = new ByteArrayOutputStream()
    val d = new DataOutputStream(desc)
    d.writeShort(ncols)
    (1 to ncols).foreach { i =>
      d.write(cstr(s"c$i"))
      d.writeInt(0); d.writeShort(0)
      d.writeInt(PgType.PgText.oid)
      d.writeShort(-1); d.writeInt(-1); d.writeShort(0)
    }
    send(out, 'T', desc.toByteArray)
    rows.foreach { row =>
      val body = new ByteArrayOutputStream()
      val rb = new DataOutputStream(body)
      rb.writeShort(row.length)
      row.foreach {
        case null => rb.writeInt(-1)
        case v =>
          val b = v.getBytes(UTF_8)
          rb.writeInt(b.length); rb.write(b)
      }
      send(out, 'D', body.toByteArray)
    }
    commandComplete(out, s"SELECT ${rows.length}")
  }

  /** Parse/Describe → ParameterDescription + RowDescription with real
    * type OIDs/typmods, via the backend's Describe handshake. */
  private def describe(sql: String, out: DataOutputStream): Unit = {
    try {
      val cols = backend.describe(sql)
      send(out, 't', Array[Byte](0, 0)) // ParameterDescription: none
      val desc = new ByteArrayOutputStream()
      val d = new DataOutputStream(desc)
      d.writeShort(cols.length)
      cols.foreach { case (name, t) =>
        d.write(cstr(name))
        d.writeInt(0); d.writeShort(0)
        d.writeInt(PgType.wireOid(t))
        d.writeShort(-1)
        d.writeInt(PgType.wireTypmod(t))
        d.writeShort(0)
      }
      send(out, 'T', desc.toByteArray)
    } catch {
      case e: Throwable => sendError(out, "", e)
    }
  }

  /** COPY TO STDOUT framed the way PostgreSQL frames it: one CopyData
    * per PGCOPY tuple (the binary header rides with the first, the
    * trailer goes alone), one per line in text format — so the client's
    * copy stream sees per-tuple message boundaries here too. */
  private def copyOut(sql: String, out: DataOutputStream): Unit = {
    val stream = backend.copyOut(sql)
    try {
      val binary = sql.toLowerCase.contains("binary")
      // CopyOutResponse; per-column formats omitted (count 0) — the
      // copy payload itself carries the real structure
      send(out, 'H', Array[Byte](if (binary) 1 else 0, 0, 0))
      val src = new DataInputStream(new BufferedInputStream(stream, 1 << 16))
      val frame = new ByteArrayOutputStream(1 << 10)
      val fd = new DataOutputStream(frame)
      def sendFrame(): Unit = if (frame.size() > 0) {
        out.writeByte('d')
        out.writeInt(frame.size() + 4)
        frame.writeTo(out)
        frame.reset()
      }
      val scratch = new Array[Byte](1 << 16)
      def copyBytes(n: Int): Unit = {
        var left = n
        while (left > 0) {
          val k = math.min(left, scratch.length)
          src.readFully(scratch, 0, k)
          frame.write(scratch, 0, k)
          left -= k
        }
      }
      if (binary) {
        copyBytes(15) // signature + flags
        val ext = src.readInt()
        fd.writeInt(ext)
        copyBytes(ext)
        var first = src.read()
        while (first >= 0) {
          val nfields = ((first << 8) | src.readUnsignedByte()).toShort
          fd.writeShort(nfields)
          var i = 0
          while (i < nfields) {
            val len = src.readInt()
            fd.writeInt(len)
            if (len > 0) copyBytes(len)
            i += 1
          }
          sendFrame() // a tuple, or the trailer (nfields = -1)
          first = src.read()
        }
      } else {
        var b = src.read()
        while (b >= 0) {
          frame.write(b)
          if (b == '\n') sendFrame()
          b = src.read()
        }
      }
      sendFrame()
      send(out, 'c', Array.emptyByteArray) // CopyDone
      commandComplete(out, "COPY")
    } finally stream.close()
  }

  private def copyIn(sql: String, in: DataInputStream, out: DataOutputStream): Unit = {
    val fmt: Byte = if (sql.toLowerCase.contains("binary")) 1 else 0
    send(out, 'G', Array[Byte](fmt, 0, 0)) // CopyInResponse
    out.flush()
    // Once CopyInResponse is on the wire the client is in the COPY
    // sub-protocol: ANY backend failure from here on must be recorded
    // and the client's 'd'/'c'/'f' frames DRAINED before replying —
    // letting an exception escape to simpleQuery's catch would leave
    // those frames in the stream to be misparsed as frontend messages
    // (one spurious error + ReadyForQuery per frame, connection
    // carrying stale responses).
    var failed: Option[String] = None
    var failedEx: Throwable = null // backend cause, for the SQLSTATE
    val sink: java.io.OutputStream =
      try backend.copyIn(sql)
      catch {
        case e: Exception =>
          failed = Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")
          failedEx = e
          null
      }
    var done = false
    while (!done) {
      val m = read(in)
      m.tag.toChar match {
        case 'd' =>
          if (failed.isEmpty)
            try sink.write(m.body)
            catch {
              case e: Exception =>
                failed = Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")
                failedEx = e
            }
        case 'c' => done = true
        case 'f' => failed = Some(readCstr(m.in)); done = true
        case 'S' | 'H' => // Sync/Flush between copy messages: ignore
        case other =>
          failed = Some(s"unexpected message '$other' during COPY IN"); done = true
      }
    }
    failed match {
      case None =>
        try {
          sink.close()
          commandComplete(out, "COPY")
        } catch {
          // completion applies the buffered rows — its failure is the
          // copy's failure, not a protocol error
          case e: Exception => sendError(out, "COPY failed: ", e)
        }
      case Some(msg) =>
        // deliberately NOT closed: closing the sink would commit the
        // partial copy; a failed COPY must discard it (PG aborts the
        // transaction on CopyFail)
        send(out, 'E', errorBody("ERROR",
          if (failedEx != null) backendState(failedEx) else "XX000",
          s"COPY failed: $msg"))
    }
  }
}

object PgWireServer {
  /** Server authentication mode — the pg_hba.conf analogue. */
  sealed trait Auth
  /** No credential exchange (pg_hba `trust`). */
  case object Trust extends Auth
  /** SCRAM-SHA-256 (RFC 7677) against a user→password map (a live
    * server stores the derived verifier; the loopback derives it per
    * connection from the plaintext it was configured with). */
  final case class Scram(users: Map[String, String]) extends Auth
  /** Legacy md5 challenge/response. */
  final case class Md5(users: Map[String, String]) extends Auth
}
