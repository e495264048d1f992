package graft.meta

import java.io.{BufferedOutputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream, EOFException, InputStream, OutputStream}
import java.net.Socket
import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable.ArrayBuffer

import graft.types.PgType

/** Frontend/backend protocol v3 framing shared by the socket client
  * ([[PgWireTransport]]) and the loopback server ([[PgWireServer]]).
  * Message formats are the public PostgreSQL protocol documentation's;
  * the reference reaches the same wire through libpq
  * (ref: src/postgres_connection.cpp:16-60).
  */
/** A server-sent ErrorResponse ('E'), carrying the SQLSTATE so callers
  * branch on the error class instead of the message text (the
  * sslmode=allow retry keys on this type, not a string prefix). */
private[graft] final class PgServerErrorException(
    val sqlState: String, message: String) extends RuntimeException(message)

private[graft] object PgWireProtocol {
  val ProtocolV3 = 196608 // 3 << 16

  def cstr(s: String): Array[Byte] = {
    val b = s.getBytes(UTF_8)
    val out = new Array[Byte](b.length + 1)
    System.arraycopy(b, 0, out, 0, b.length)
    out
  }

  /** One typed message: tag byte + int32 length (length includes
    * itself, not the tag). */
  def send(out: DataOutputStream, tag: Byte, body: Array[Byte]): Unit = {
    out.writeByte(tag)
    out.writeInt(body.length + 4)
    out.write(body)
  }

  def sendFlush(out: DataOutputStream, tag: Byte, body: Array[Byte]): Unit = {
    send(out, tag, body); out.flush()
  }

  final case class Msg(tag: Byte, body: Array[Byte]) {
    def in: DataInputStream =
      new DataInputStream(new java.io.ByteArrayInputStream(body))
  }

  def read(in: DataInputStream): Msg = {
    val tag = in.readByte()
    val len = in.readInt() - 4
    if (len < 0) throw new EOFException(s"negative message length for tag $tag")
    val body = new Array[Byte](len)
    in.readFully(body)
    Msg(tag, body)
  }

  def readCstr(in: DataInputStream): String = {
    val buf = new ByteArrayOutputStream()
    var b = in.read()
    while (b > 0) { buf.write(b); b = in.read() }
    new String(buf.toByteArray, UTF_8)
  }

  def errorFields(m: Msg): Map[Char, String] = {
    val in = m.in
    val fields = Map.newBuilder[Char, String]
    var code = in.read()
    while (code > 0) {
      fields += code.toChar -> readCstr(in)
      code = in.read()
    }
    fields.result()
  }

  def errorBody(severity: String, sqlState: String, message: String): Array[Byte] = {
    val buf = new ByteArrayOutputStream()
    def field(c: Char, v: String): Unit = { buf.write(c); buf.write(cstr(v)) }
    field('S', severity); field('C', sqlState); field('M', message)
    buf.write(0)
    buf.toByteArray
  }
}

/** Unsynchronized buffered reader over a client socket — every backend
  * message [[PgWireTransport]] reads goes through it. Unlike
  * `DataInputStream` over `BufferedInputStream`, a header costs plain
  * array arithmetic instead of five monitor-guarded virtual reads,
  * which matters when a COPY sends one message per tuple. */
private final class PgWireReader(src: InputStream) {
  private val buf = new Array[Byte](1 << 16)
  private var pos = 0
  private var lim = 0

  def buffered: Int = lim - pos

  /** Make at least `n` (≤ buffer size) bytes available at `pos`. */
  private def ensure(n: Int): Unit = if (lim - pos < n) {
    System.arraycopy(buf, pos, buf, 0, lim - pos)
    lim -= pos
    pos = 0
    while (lim < n) {
      val r = src.read(buf, lim, buf.length - lim)
      if (r < 0) throw new EOFException("connection closed mid-message")
      lim += r
    }
  }

  def readByte(): Byte = { ensure(1); val b = buf(pos); pos += 1; b }

  def readInt(): Int = {
    ensure(4)
    val v = ((buf(pos) & 0xff) << 24) | ((buf(pos + 1) & 0xff) << 16) |
      ((buf(pos + 2) & 0xff) << 8) | (buf(pos + 3) & 0xff)
    pos += 4
    v
  }

  /** Body length from a message's int32 length word (which counts
    * itself, not the tag). */
  def bodyLength(tag: Byte): Int = {
    val len = readInt() - 4
    if (len < 0) throw new EOFException(s"negative message length for tag $tag")
    len
  }

  /** Copy between 1 and `len` (> 0) bytes into `b`: from the buffer
    * when it holds any, else straight from the socket when `len`
    * would not fit the buffer anyway, else after one refill. */
  def readSome(b: Array[Byte], off: Int, len: Int): Int = {
    if (pos == lim) {
      if (len >= buf.length) {
        val r = src.read(b, off, len)
        if (r < 0) throw new EOFException("connection closed mid-message")
        return r
      }
      ensure(1)
    }
    val n = math.min(len, lim - pos)
    System.arraycopy(buf, pos, b, off, n)
    pos += n
    n
  }

  def readFully(b: Array[Byte], off: Int, len: Int): Unit = {
    var n = 0
    while (n < len) n += readSome(b, off + n, len - n)
  }

  def skip(len: Int): Unit = {
    var left = len
    while (left > 0) {
      ensure(1)
      val k = math.min(left, lim - pos)
      pos += k
      left -= k
    }
  }

  /** One whole message, the [[PgWireProtocol.read]] shape. */
  def readMsg(): PgWireProtocol.Msg = {
    val tag = readByte()
    val body = new Array[Byte](bodyLength(tag))
    readFully(body, 0, body.length)
    PgWireProtocol.Msg(tag, body)
  }
}

/** Socket implementation of [[PgTransport]] speaking the PostgreSQL
  * frontend protocol — the live-server counterpart of [[InMemoryPg]].
  * DSN form: `tcp:host:port/dbname[?user=name&password=pw&sslmode=m]`.
  *
  * Authentication: trust, cleartext password, MD5, and SCRAM-SHA-256
  * (RFC 7677 over the v3 SASL exchange) — the methods a stock
  * `pg_hba.conf` hands out; the reference client inherits the same set
  * from libpq (ref: src/postgres_connection.cpp:16-60). `sslmode` is
  * parsed libpq-style and TLS is negotiated via the protocol's
  * SSLRequest packet before the StartupMessage (see [[PgTls]] for the
  * full mode semantics, incl. `verify-ca`/`verify-full` root-cert
  * verification) — the reference gets the same flow from libpq and
  * tests it in test/sql/scanner/ssl.test:9-15. Authentication —
  * including the SCRAM exchange — runs over the negotiated channel, so
  * with TLS the credentials never cross plaintext.
  *
  * COPY-out path: PostgreSQL sends `COPY … TO STDOUT` as one CopyData
  * message per tuple (the binary header rides with the first, the
  * trailer goes alone), so a scan is millions of ~100-byte messages.
  * All reads go through one unsynchronized [[PgWireReader]], and the
  * copy stream parses CopyData headers inside its buffer, copying
  * payload bytes straight into the decoder's array — no per-message
  * object, body array or monitor.
  *
  * One instance per scan partition / write task, exactly like the
  * reference's one-libpq-connection-per-task model
  * (ref: src/postgres_scanner.cpp:354-383); pooling, health checks and
  * reset-on-return happen a layer up in [[PgConnectionPool]].
  */
final class PgWireTransport(host: String, port: Int, database: String, user: String,
    password: Option[String] = None, sslmode: String = "disable",
    sslrootcert: Option[String] = None)
    extends PgTransport {

  import PgWireProtocol._

  private val socket: Socket = {
    val plain = new Socket(host, port)
    plain.setTcpNoDelay(true)
    PgTls.clientNegotiate(plain, host, port, sslmode, sslrootcert)
  }
  private val wire = new PgWireReader(socket.getInputStream)
  private val out = new DataOutputStream(new BufferedOutputStream(socket.getOutputStream, 1 << 16))
  private var closed = false

  // ---- startup: StartupMessage → AuthenticationOk → ReadyForQuery ----
  try {
    val body = new ByteArrayOutputStream()
    val d = new DataOutputStream(body)
    d.writeInt(0) // placeholder for length
    d.writeInt(ProtocolV3)
    d.write(cstr("user")); d.write(cstr(user))
    d.write(cstr("database")); d.write(cstr(database))
    d.write(0)
    val bytes = body.toByteArray
    val len = bytes.length
    bytes(0) = (len >>> 24).toByte; bytes(1) = (len >>> 16).toByte
    bytes(2) = (len >>> 8).toByte; bytes(3) = len.toByte
    out.write(bytes); out.flush()
    var ready = false
    while (!ready) {
      val m = wire.readMsg()
      m.tag.toChar match {
        case 'R' => authenticate(m)
        case 'S' | 'K' | 'N' => // ParameterStatus / BackendKeyData / Notice
        case 'Z' => ready = true
        case 'E' => throw serverError(m)
        case other => throw new IllegalStateException(s"unexpected startup message '$other'")
      }
    }
  } catch {
    case e: Throwable =>
      try socket.close() catch { case _: Throwable => }
      throw e
  }

  private def serverError(m: Msg): RuntimeException = {
    val f = errorFields(m)
    val state = f.getOrElse('C', "?????")
    new PgServerErrorException(state,
      s"server error $state: ${f.getOrElse('M', "unknown")}")
  }

  private def requirePassword(method: String): String =
    password.getOrElse(throw new IllegalStateException(
      s"server requires $method authentication but the DSN has no password " +
        "(tcp:host:port/db?user=u&password=pw)"))

  /** One Authentication* request message (tag 'R'). Handles trust (0),
    * cleartext (3), MD5 (5) and the SASL triple (10/11/12) for
    * SCRAM-SHA-256. */
  private def authenticate(m: Msg): Unit = {
    val mi = m.in
    mi.readInt() match {
      case 0 => // AuthenticationOk
      case 3 => // cleartext password
        sendFlush(out, 'p', cstr(requirePassword("password")))
      case 5 => // md5: md5(md5(password + user) + salt)
        val salt = new Array[Byte](4)
        mi.readFully(salt)
        sendFlush(out, 'p', cstr(PgMd5.response(user, requirePassword("md5"), salt)))
      case 10 => // AuthenticationSASL: choose SCRAM-SHA-256
        var mechs = List.empty[String]
        var s = readCstr(mi)
        while (s.nonEmpty) { mechs ::= s; s = readCstr(mi) }
        if (!mechs.contains(PgScram.Mechanism))
          throw new IllegalStateException(
            s"no common SASL mechanism (server offers ${mechs.mkString(", ")}; " +
              s"client speaks ${PgScram.Mechanism})")
        val pw = requirePassword(PgScram.Mechanism)
        val cnonce = PgScram.nonce(new java.security.SecureRandom())
        val clientFirstBare = s"n=,r=$cnonce" // user comes from startup, per PG convention
        val body = new ByteArrayOutputStream()
        val d = new DataOutputStream(body)
        d.write(cstr(PgScram.Mechanism))
        val initial = ("n,," + clientFirstBare).getBytes(UTF_8)
        d.writeInt(initial.length)
        d.write(initial)
        sendFlush(out, 'p', body.toByteArray)
        // SASLContinue (R code 11)
        val cont = wire.readMsg()
        if (cont.tag.toChar == 'E') throw serverError(cont)
        val ci = cont.in
        require(cont.tag.toChar == 'R' && ci.readInt() == 11,
          "expected AuthenticationSASLContinue")
        val serverFirst = new String(cont.body.drop(4), UTF_8)
        val sf = PgScram.parseServerFirst(serverFirst)
        require(sf.nonce.startsWith(cnonce), "SCRAM server nonce does not extend client nonce")
        val salted = PgScram.saltedPassword(pw, sf.salt, sf.iterations)
        val clientFinalNoProof = s"c=biws,r=${sf.nonce}" // biws = b64("n,,")
        val authMsg = PgScram.authMessage(clientFirstBare, serverFirst, clientFinalNoProof)
        val proof = PgScram.b64(PgScram.clientProof(salted, authMsg))
        sendFlush(out, 'p', s"$clientFinalNoProof,p=$proof".getBytes(UTF_8))
        // SASLFinal (R code 12) carries v=ServerSignature — verifying it
        // authenticates the SERVER to us (it proves knowledge of the
        // stored ServerKey), which trust/md5 never did
        val fin = wire.readMsg()
        if (fin.tag.toChar == 'E') throw serverError(fin)
        val fi = fin.in
        require(fin.tag.toChar == 'R' && fi.readInt() == 12,
          "expected AuthenticationSASLFinal")
        val finalMsg = new String(fin.body.drop(4), UTF_8)
        val v = PgScram.attrs(finalMsg).getOrElse('v',
          throw new IllegalStateException(s"SCRAM final message missing v=: $finalMsg"))
        val expect = PgScram.serverSignature(salted, authMsg)
        if (!java.security.MessageDigest.isEqual(PgScram.unb64(v), expect))
          throw new IllegalStateException(
            "SCRAM server signature mismatch — server does not know the password verifier")
      case other => throw new IllegalStateException(
        s"unsupported authentication method $other " +
          "(trust, password, md5 and SCRAM-SHA-256 are implemented)")
    }
  }

  /** Consume messages until ReadyForQuery; rethrow any ErrorResponse. */
  private def drainToReady(firstError: Option[RuntimeException] = None): Unit = {
    var err = firstError
    var done = false
    while (!done) {
      val m = wire.readMsg()
      m.tag.toChar match {
        case 'Z' => done = true
        case 'E' => if (err.isEmpty) err = Some(serverError(m))
        case _ => // data / status for a caller that doesn't need it
      }
    }
    err.foreach(throw _)
  }

  override def execute(sql: String): Unit = {
    sendFlush(out, 'Q', cstr(sql))
    drainToReady()
  }

  override def query(sql: String): Seq[Seq[String]] = {
    sendFlush(out, 'Q', cstr(sql))
    val rows = ArrayBuffer.empty[Seq[String]]
    var err: Option[RuntimeException] = None
    var done = false
    while (!done) {
      val m = wire.readMsg()
      m.tag.toChar match {
        case 'D' =>
          val mi = m.in
          val n = mi.readShort()
          rows += Seq.tabulate(n) { _ =>
            val len = mi.readInt()
            if (len < 0) null
            else {
              val b = new Array[Byte](len); mi.readFully(b); new String(b, UTF_8)
            }
          }
        case 'E' => if (err.isEmpty) err = Some(serverError(m))
        case 'Z' => done = true
        case _ => // RowDescription / CommandComplete / notices
      }
    }
    err.foreach(throw _)
    rows.toSeq
  }

  override def describe(sql: String): Seq[(String, PgType)] = {
    // Parse (unnamed statement) + Describe + Sync — PQprepare/
    // PQdescribePrepared without execution
    val parseBody = new ByteArrayOutputStream()
    parseBody.write(cstr("")); parseBody.write(cstr(sql))
    parseBody.write(0); parseBody.write(0) // int16 nParamTypes = 0
    send(out, 'P', parseBody.toByteArray)
    val descBody = new ByteArrayOutputStream()
    descBody.write('S'); descBody.write(cstr(""))
    send(out, 'D', descBody.toByteArray)
    sendFlush(out, 'S', Array.emptyByteArray)
    var cols = Seq.empty[(String, PgType)]
    var err: Option[RuntimeException] = None
    var done = false
    while (!done) {
      val m = wire.readMsg()
      m.tag.toChar match {
        case 'T' =>
          val mi = m.in
          val n = mi.readShort()
          cols = Seq.fill(n) {
            val name = readCstr(mi)
            mi.readInt(); mi.readShort() // table oid, attnum
            val typeOid = mi.readInt()
            mi.readShort() // typlen
            val typmod = mi.readInt()
            mi.readShort() // format code
            name -> PgType.fromOid(typeOid, typmod)
          }
        case 'E' => if (err.isEmpty) err = Some(serverError(m))
        case 'Z' => done = true
        case _ => // ParseComplete / ParameterDescription / NoData
      }
    }
    err.foreach(throw _)
    cols
  }

  override def copyOut(sql: String): InputStream = {
    sendFlush(out, 'Q', cstr(sql))
    // expect CopyOutResponse (or an immediate error)
    var started = false
    while (!started) {
      val m = wire.readMsg()
      m.tag.toChar match {
        case 'H' => started = true
        case 'E' => drainToReady(Some(serverError(m)))
        case 'N' | 'S' =>
        case other =>
          drainToReady(Some(new IllegalStateException(
            s"expected CopyOutResponse, got '$other'")))
      }
    }
    new CopyOutStream
  }

  /** The COPY-out payload as one byte stream. A server sends each
    * tuple as its own CopyData message (~100 bytes for a lineitem
    * row), so this never materializes messages: it parses each header
    * inside the reader's buffer and copies payload bytes straight into
    * the caller's array, across message boundaries. A read returns
    * early only at a message boundary whose next header is not yet
    * buffered — mid-message it blocks until the caller's array is
    * full, so a decoder refilling a large block gets it in few calls.
    *
    * An ErrorResponse mid-COPY drains to ReadyForQuery and raises
    * [[PgServerErrorException]]; that failure (or a cut stream's
    * EOFException) is sticky — every later read rethrows it rather
    * than reporting a clean end of data. */
  private final class CopyOutStream extends InputStream {
    private var remaining = 0 // payload bytes left in the current CopyData
    private var done = false // CopyDone (or an error) consumed through ReadyForQuery
    private var failure: Throwable = null
    private val one = new Array[Byte](1)

    /** At a message boundary: consume messages until one with payload
      * is current (true) or the copy has ended (false). */
    private def advance(): Boolean = {
      while (remaining == 0 && !done) {
        val tag = wire.readByte()
        val len = wire.bodyLength(tag)
        tag.toChar match {
          case 'd' => remaining = len
          case 'c' => wire.skip(len); done = true; drainToReady()
          case 'E' =>
            val body = new Array[Byte](len)
            wire.readFully(body, 0, len)
            done = true
            drainToReady(Some(serverError(Msg(tag, body))))
          case _ => wire.skip(len) // notices / parameter status
        }
      }
      remaining > 0
    }

    private def guarded[T](body: => T): T = {
      if (failure != null) throw failure
      try body
      catch { case e: Throwable => failure = e; throw e }
    }

    override def read(): Int =
      if (read(one, 0, 1) < 0) -1 else one(0) & 0xff

    override def read(b: Array[Byte], off: Int, len: Int): Int = guarded {
      var n = 0
      while (n < len &&
          (remaining > 0 || ((n == 0 || wire.buffered >= 5) && advance()))) {
        val k = wire.readSome(b, off + n, math.min(len - n, remaining))
        n += k
        remaining -= k
      }
      if (n == 0 && len > 0) -1 else n
    }

    override def close(): Unit = if (!done && failure == null) guarded {
      // finish the COPY so the connection returns to command-ready;
      // an early-terminated scan never gets here through the pool,
      // which bounds its drain and discards the socket instead (see
      // PooledTransport)
      do { wire.skip(remaining); remaining = 0 } while (advance())
    }
  }

  override def copyIn(sql: String): OutputStream = {
    sendFlush(out, 'Q', cstr(sql))
    var started = false
    while (!started) {
      val m = wire.readMsg()
      m.tag.toChar match {
        case 'G' => started = true
        case 'E' => drainToReady(Some(serverError(m)))
        case 'N' | 'S' =>
        case other =>
          drainToReady(Some(new IllegalStateException(
            s"expected CopyInResponse, got '$other'")))
      }
    }
    new OutputStream {
      private val buf = new ByteArrayOutputStream(1 << 16)
      private var done = false

      override def write(b: Int): Unit = { buf.write(b); maybeFlush() }
      override def write(b: Array[Byte], off: Int, len: Int): Unit = {
        buf.write(b, off, len); maybeFlush()
      }
      private def maybeFlush(): Unit =
        if (buf.size() >= (1 << 16)) flushChunk()
      private def flushChunk(): Unit = if (buf.size() > 0) {
        send(out, 'd', buf.toByteArray)
        buf.reset()
      }

      override def close(): Unit = if (!done) {
        done = true
        flushChunk()
        sendFlush(out, 'c', Array.emptyByteArray) // CopyDone
        drainToReady()
      }
    }
  }

  override def close(): Unit = if (!closed) {
    closed = true
    try {
      sendFlush(out, 'X', Array.emptyByteArray) // Terminate
    } catch { case _: Throwable => }
    try socket.close() catch { case _: Throwable => }
  }
}

object PgWireTransport {
  /** `tcp:host:port/dbname[?user=name&password=pw&sslmode=mode&sslrootcert=path]`
    *
    * `sslmode=allow` follows libpq's two-attempt flow: connect
    * plaintext first; if the SERVER refuses the attempt (an
    * ErrorResponse during startup — e.g. a hostssl-only pg_hba), retry
    * the whole connection once asking for TLS. Client-side failures
    * (unknown host, refused socket) are not retried — TLS would not
    * change them. */
  def fromDsn(dsn: String): PgWireTransport = {
    val spec = dsn.stripPrefix("tcp:")
    val (hostPortDb, params) = spec.indexOf('?') match {
      case -1 => (spec, Map.empty[String, String])
      case i =>
        val kv = spec.substring(i + 1).split('&').toSeq
          .map(_.split("=", 2)).collect { case Array(k, v) => k -> v }.toMap
        (spec.substring(0, i), kv)
    }
    val sslmode = params.getOrElse("sslmode", "disable")
    PgTls.validateMode(sslmode)
    val slash = hostPortDb.lastIndexOf('/')
    require(slash > 0, s"malformed tcp dsn '$dsn' (want tcp:host:port/db)")
    // the db segment is pct-encoded by PgDsn.assemble (a name with
    // '/', '?' or '&' must not shift the split points); decode is a
    // no-op on plain names
    val db = PgDsn.pctDecode(hostPortDb.substring(slash + 1))
    val hostPort = hostPortDb.substring(0, slash)
    // bracketed IPv6 literal: tcp:[::1]:5432/db
    val (hostStr, portStr) =
      if (hostPort.startsWith("[")) {
        val close = hostPort.indexOf(']')
        require(close > 1 && close + 1 < hostPort.length &&
          hostPort.charAt(close + 1) == ':',
          s"malformed tcp dsn '$dsn' (want tcp:[v6host]:port/db)")
        (hostPort.substring(1, close), hostPort.substring(close + 2))
      } else {
        val colon = hostPort.lastIndexOf(':')
        require(colon > 0, s"malformed tcp dsn '$dsn' (want tcp:host:port/db)")
        (hostPort.substring(0, colon), hostPort.substring(colon + 1))
      }
    // values arrive pct-encoded (PgDsn.assemble) so credentials may
    // contain &/=/%; decode is a no-op on plain values
    def connect(mode: String) = new PgWireTransport(
      hostStr,
      portStr.toInt,
      db,
      params.get("user").map(PgDsn.pctDecode).getOrElse("spark"),
      params.get("password").map(PgDsn.pctDecode),
      mode,
      params.get("sslrootcert").map(PgDsn.pctDecode))
    if (sslmode == "allow") {
      // plaintext first; on a server-sent refusal, one retry over TLS
      // ("require" — the server just demanded it; no cert verification
      // unless sslrootcert is present, same as libpq's allow)
      try connect("disable")
      catch {
        case first: PgServerErrorException =>
          try connect("require")
          catch {
            case second: Throwable => second.addSuppressed(first); throw second
          }
      }
    } else connect(sslmode)
  }
}
