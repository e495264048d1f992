package graft.meta

import java.io.{InputStream, OutputStream}

/** Transport boundary to a Postgres server.
  *
  * The reference talks libpq (`PQexec`, `PQgetCopyData`,
  * `PQputCopyData` — ref: src/postgres_connection.cpp,
  * src/postgres_copy_from.cpp:6-13); this trait is the Spark-side
  * equivalent seam. Each scan partition / write task acquires its own
  * transport (the reference likewise opens one libpq connection per
  * parallel task, ref: src/postgres_scanner.cpp:354-383).
  *
  * Implementations:
  *   - [[InMemoryPg]]: an offline endpoint for tests/CI (no server in
  *     this environment) that stores tables as pages and serves/accepts
  *     real PGCOPY binary bytes through the same byte-level contract a
  *     server would.
  *   - a socket implementation of the public PostgreSQL frontend/
  *     backend protocol would plug in here for live use; nothing above
  *     this seam changes.
  */
trait PgTransport extends AutoCloseable {
  /** Run a statement for effect (DDL/DML forwarding — ref:
    * src/postgres_execute.cpp:12-57). */
  def execute(sql: String): Unit

  /** Run a catalog/metadata query; rows of text values (nulls as null).
    * Mirrors libpq text-format result sets used for discovery. */
  def query(sql: String): Seq[Seq[String]]

  /** Bind the result shape of an arbitrary SELECT without running it —
    * the `PQprepare` + `PQdescribePrepared` handshake the reference
    * uses for `postgres_query` (ref: src/postgres_query.cpp:41-86).
    * Returns (column name, wire type) pairs. */
  def describe(sql: String): Seq[(String, graft.types.PgType)] =
    throw new UnsupportedOperationException(
      "this transport cannot describe arbitrary SQL")

  /** `COPY (...) TO STDOUT (FORMAT binary)` byte stream. */
  def copyOut(sql: String): InputStream

  /** `COPY ... FROM STDIN (FORMAT binary)`; closing the stream ends the
    * copy. */
  def copyIn(sql: String): OutputStream
}

/** Resolves a DSN to a transport. `mem:<name>` DSNs address in-process
  * [[InMemoryPg]] instances (one per name, shared across the local[*]
  * executor threads — a cluster deployment resolves socket DSNs here
  * instead, one connection per task, pooled per-executor like the
  * reference's 64-connection pool,
  * ref: src/storage/postgres_connection_pool.cpp:43-134). */
object PgTransportFactory {
  @volatile private var poolLimit: Int = 64 // pg_connection_limit default

  def connectionLimit: Int = poolLimit
  def setConnectionLimit(n: Int): Unit = poolLimit = n

  /** `pg_connection_cache` analogue (ref: src/storage/
    * postgres_connection_pool.cpp:5, 102): when off, released
    * transports are closed instead of cached for reuse. Global, like
    * the reference's setting. */
  @volatile var connectionCacheEnabled: Boolean = true

  /** `pg_debug_show_queries` analogue (ref: src/postgres_extension.cpp:
    * 182-183): print every statement sent through a pooled transport
    * ([[PgConnectionPool]] prints, once per statement). */
  @volatile var debugShowQueries: Boolean = false

  private[meta] def debug(sql: String): Unit =
    if (debugShowQueries) println(s"[postgres] $sql")

  def open(dsn: String): PgTransport = PgConnectionPool.acquire(dsn)

  /** A dedicated transport outside the pool's permit budget — used by
    * the snapshot lease, whose held-open exporting transaction must
    * never starve the per-DSN connection budget for the partition
    * readers it serves. */
  private[graft] def openUnpooled(dsn: String): PgTransport = openRaw(dsn)

  private[meta] def openRaw(dsn: String): PgTransport = {
    val t =
      if (dsn.startsWith("mem:")) InMemoryPg.forName(dsn.stripPrefix("mem:"))
      else if (dsn.startsWith("tcp:")) PgWireTransport.fromDsn(dsn)
      else throw new IllegalArgumentException(
        // redacted: a malformed dsn may still carry a password
        s"unsupported dsn '${PgDsn.redact(dsn)}': use mem:<name> (in-process) or " +
          "tcp:host:port/db[?user=u] (socket, frontend/backend protocol v3)")
    // pin the quoting assumption PgSqlGen.quoteString relies on rather
    // than inheriting it from server/pooler config: with scs=off a
    // pushed string literal ending in a backslash would swallow its
    // closing quote (query breakage / injection vector)
    t.execute("SET standard_conforming_strings = on")
    t
  }
}

/** What an InputPartition carries to adopt a shared snapshot: the
  * server-side snapshot id plus the driver-side lease token used to
  * report adoption back to [[PgSnapshotLease]]. */
final case class SnapshotRef(snapshotId: String, leaseToken: String)
    extends Serializable

/** Driver-side lease that keeps the snapshot-exporting transaction open
  * while parallel partition readers adopt the snapshot. On a real server
  * an exported snapshot is only valid while the exporting transaction is
  * in progress (the reference keeps its bind connection's REPEATABLE
  * READ transaction open for the scan's lifetime —
  * ref: src/postgres_scanner.cpp:80, 281-283), so the transport here is
  * held, inside `BEGIN ... REPEATABLE READ READ ONLY`, until
  * [[release]].
  *
  * Release is deterministic: the lease knows how many partitions will
  * adopt the snapshot, each reader reports adoption after its
  * `SET TRANSACTION SNAPSHOT`, and the last adoption commits the
  * exporting transaction — at that point every reader's own transaction
  * has captured the snapshot and the export is no longer needed. The
  * adoption report goes through an in-JVM registry, so it fires in
  * local mode and is a no-op from remote executors; Cleaner-on-Scan-GC
  * remains the backstop for those, bounding how long a dead scan can
  * pin a server transaction. The transport is unpooled, so a held lease
  * never consumes a reader's pool permit.
  */
final class PgSnapshotLease(dsn: String, expectedAdoptions: Int) extends AutoCloseable {
  private val released = new java.util.concurrent.atomic.AtomicBoolean(false)
  // adoption is tracked per PARTITION IDENTITY, not as a raw count: a
  // task retry re-adopts the snapshot, and with a counter the Nth
  // decrement could release the export while a not-yet-started
  // partition still needs SET TRANSACTION SNAPSHOT to succeed — which
  // would fail the whole query unrecoverably ('invalid snapshot
  // identifier' on every retry)
  private val adoptedKeys = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private val transport = PgTransportFactory.openUnpooled(dsn)
  val token: String = java.util.UUID.randomUUID().toString
  val snapshotId: String =
    try {
      transport.execute(PgCatalogQueries.beginReadOnly)
      transport.query(PgCatalogQueries.exportSnapshot).head.head
    } catch { case e: Throwable => transport.close(); throw e }

  def ref: SnapshotRef = SnapshotRef(snapshotId, token)

  def isReleased: Boolean = released.get()

  private[meta] def adopted(partitionKey: String): Unit = {
    adoptedKeys.add(partitionKey)
    if (adoptedKeys.size >= expectedAdoptions) release()
  }

  def release(): Unit = if (released.compareAndSet(false, true)) {
    PgSnapshotLease.registry.remove(token)
    try transport.execute("COMMIT")
    finally transport.close()
  }
  override def close(): Unit = release()
}

object PgSnapshotLease {
  private val cleaner = java.lang.ref.Cleaner.create()
  private[meta] val registry =
    new java.util.concurrent.ConcurrentHashMap[String, PgSnapshotLease]()

  /** Open a lease for `expectedAdoptions` partition readers. Release is
    * also tied to `owner`'s reachability as a backstop: when the Scan
    * object is GC'd after query execution, the lease's transaction is
    * committed and the transport closed. */
  def openFor(owner: AnyRef, dsn: String, expectedAdoptions: Int): PgSnapshotLease = {
    val lease = new PgSnapshotLease(dsn, expectedAdoptions)
    registry.put(lease.token, lease)
    cleaner.register(owner, () => lease.release())
    lease
  }

  /** Called by a partition reader right after `SET TRANSACTION
    * SNAPSHOT`, with a key identifying the PARTITION (its task SQL —
    * distinct per ctid range) so a retried task's second adoption is
    * idempotent rather than a spurious count. In-JVM only (local mode /
    * driver-side readers); a miss — e.g. from a remote executor — is a
    * harmless no-op. */
  def reportAdoption(ref: SnapshotRef, partitionKey: String): Unit = {
    val lease = registry.get(ref.leaseToken)
    if (lease != null) lease.adopted(partitionKey)
  }

  /** Leases currently holding a server transaction open (observability
    * for tests: a completed scan must leave none behind). Note a scan
    * that was PLANNED but never executed (e.g. `.rdd.getNumPartitions`
    * alone) keeps its lease until the Cleaner backstop fires. */
  def activeLeases: Int = registry.size

  /** Release every outstanding lease — driver-shutdown hygiene and a
    * clean baseline for tests. */
  def releaseAll(): Int = {
    import scala.jdk.CollectionConverters._
    val leases = registry.values.asScala.toSeq
    leases.foreach(_.release())
    leases.size
  }
}

/** Per-JVM transport pool, the reference's connection pool shape
  * (ref: src/storage/postgres_connection_pool.cpp:43-134): at most
  * `connectionLimit` live transports per DSN, idle ones cached and
  * health-checked on reuse, released transports returned rather than
  * torn down. Callers hold a [[PooledTransport]] whose `close()`
  * returns it to the pool.
  *
  * For `mem:` DSNs the underlying endpoint is a shared in-process
  * object, so the pool's role is bookkeeping + the acquire/release
  * contract the socket transport will need; the cap and health-check
  * logic is exercised all the same.
  */
object PgConnectionPool {
  import java.util.concurrent.{ConcurrentHashMap, Semaphore}
  import java.util.concurrent.atomic.AtomicLong

  private final class DsnPool(dsn: String) {
    val permits = new Semaphore(PgTransportFactory.connectionLimit)
    val idle = new java.util.concurrent.ConcurrentLinkedQueue[PgTransport]()
    // bumped from concurrent scan tasks: atomic, or updates are lost
    val acquires = new AtomicLong
    val reuses = new AtomicLong
  }

  private val pools = new ConcurrentHashMap[String, DsnPool]()

  /** Detach-time cleanup (the `DETACH`/attach_detach.test analogue):
    * close every cached idle transport for the DSN and forget the
    * pool. In-flight transports keep their permits on the forgotten
    * pool object and die with it; a later acquire starts a fresh pool,
    * so detach → re-attach works like the reference's. Returns the
    * number of idle transports closed. */
  def drain(dsn: String): Int = {
    val pool = pools.remove(dsn)
    if (pool == null) return 0
    var n = 0
    var t = pool.idle.poll()
    while (t != null) {
      try t.close() catch { case _: Exception => () }
      n += 1
      t = pool.idle.poll()
    }
    n
  }

  def acquire(dsn: String): PgTransport = {
    val pool = pools.computeIfAbsent(dsn, new DsnPool(_))
    pool.permits.acquire()
    // a failed open (server down, auth refused) must hand its permit
    // back — otherwise each failed task attempt burns one permit and
    // after connectionLimit failures every acquire on the DSN blocks
    // forever, long after the server recovers
    try {
      pool.acquires.incrementAndGet()
      val cached = pool.idle.poll()
      val raw = cached match {
        case null => PgTransportFactory.openRaw(dsn)
        case t =>
          // health check on reuse (ref: pool reset-on-return + check);
          // a transport that fails the probe is closed, not reused
          try { t.query(PgCatalogQueries.versionProbe); pool.reuses.incrementAndGet(); t }
          catch {
            case _: Exception =>
              try t.close() catch { case _: Exception => () }
              PgTransportFactory.openRaw(dsn)
          }
      }
      new PooledTransport(raw, pool)
    } catch {
      case e: Throwable => pool.permits.release(); throw e
    }
  }

  /** (acquires, reuses) counters for a DSN — test observability.
    * Reuses are read first: an acquire counts itself before its reuse,
    * so a concurrent read never shows more reuses than acquires. */
  def stats(dsn: String): (Long, Long) = {
    val p = pools.get(dsn)
    if (p == null) (0L, 0L)
    else { val reuses = p.reuses.get(); (p.acquires.get(), reuses) }
  }

  /** Echoes statements for `debugShowQueries` — the one layer that
    * does, so each prints once whatever the DSN — and tracks session
    * state so release can reset the connection before it is pooled
    * (the reference resets connections on return —
    * ref: src/storage/postgres_connection_pool.cpp:91-119):
    *   - an open transaction (BEGIN without COMMIT/ROLLBACK) is rolled
    *     back so a reused connection never serves reads from a stale
    *     read-only snapshot;
    *   - a transport with a COPY stream that was never completed is in
    *     an unknown protocol state and is closed instead of pooled.
    */
  private final class PooledTransport(underlying: PgTransport, pool: DsnPool)
      extends PgTransport {
    private val closed = new java.util.concurrent.atomic.AtomicBoolean(false)
    @volatile private var inTransaction = false
    @volatile private var openCopies = 0

    override def execute(sql: String): Unit = {
      PgTransportFactory.debug(sql)
      underlying.execute(sql)
      val head = sql.trim.takeWhile(!_.isWhitespace).toUpperCase
      head match {
        case "BEGIN" | "START" => inTransaction = true
        case "COMMIT" | "ROLLBACK" | "END" | "ABORT" => inTransaction = false
        case _ => ()
      }
    }
    override def query(sql: String): Seq[Seq[String]] = {
      PgTransportFactory.debug(sql)
      underlying.query(sql)
    }

    override def describe(sql: String): Seq[(String, graft.types.PgType)] = {
      PgTransportFactory.debug(s"DESCRIBE: $sql")
      underlying.describe(sql)
    }

    override def copyOut(sql: String): java.io.InputStream = {
      PgTransportFactory.debug(sql)
      val in = underlying.copyOut(sql)
      openCopies += 1
      new java.io.FilterInputStream(in) {
        private var settled = false
        override def close(): Unit = if (!settled) {
          settled = true
          // drain to the end of the COPY so the connection is back in
          // a command-ready state (libpq likewise consumes copy data
          // to completion) — but bounded: a scan terminated early
          // (e.g. a LIMIT stopped consuming) must not read the whole
          // remaining table over the wire just to recycle one
          // connection. Past the budget, or after a failed read, the
          // inner stream is left unclosed (its close would read on to
          // CopyDone) and close() discards the connection instead.
          try {
            val buf = new Array[Byte](8192)
            val budget = 4L * 1024 * 1024
            var drained = 0L
            var n = in.read(buf)
            while (n != -1 && drained <= budget) { drained += n; n = in.read(buf) }
            if (n == -1) { in.close(); openCopies -= 1 }
          } catch { case _: Exception => () }
        }
      }
    }
    override def copyIn(sql: String): java.io.OutputStream = {
      PgTransportFactory.debug(sql)
      val out = underlying.copyIn(sql)
      openCopies += 1
      new java.io.FilterOutputStream(out) {
        private var done = false
        // don't let FilterOutputStream fall back to byte-at-a-time
        override def write(b: Array[Byte], off: Int, len: Int): Unit =
          out.write(b, off, len)
        override def close(): Unit = if (!done) {
          // settle the COPY FIRST: if completion fails (the server
          // rejects the rows on apply — constraint violation — or the
          // stream dies), openCopies stays non-zero and the transport's
          // close() DISCARDS the connection instead of pooling a wire
          // mid-error. Decrementing before the close used to pool
          // exactly those connections, and the next borrower would
          // read the stale ErrorResponse as its own result.
          super.close()
          done = true
          openCopies -= 1
        }
      }
    }

    override def close(): Unit = if (closed.compareAndSet(false, true)) {
      try {
        if (openCopies != 0) {
          // half-consumed / unfinished COPY: protocol state unknown —
          // discard the connection entirely
          try underlying.close() catch { case _: Exception => () }
        } else if (!PgTransportFactory.connectionCacheEnabled) {
          // pg_connection_cache off: close instead of caching for reuse
          if (inTransaction) underlying.execute("ROLLBACK")
          try underlying.close() catch { case _: Exception => () }
        } else {
          if (inTransaction) underlying.execute("ROLLBACK")
          pool.idle.add(underlying)
        }
      } catch {
        case _: Exception => try underlying.close() catch { case _: Exception => () }
      } finally pool.permits.release()
    }
  }
}
