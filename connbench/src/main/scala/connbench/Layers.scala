package connbench

import java.io.{ByteArrayOutputStream, DataOutputStream, File}
import java.util.concurrent.{Callable, Executors}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusAccess
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{Identifier, Table}
import org.apache.spark.sql.execution.{ColumnarToRowExec, InputAdapter, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

import graft.meta.{PgConnectionPool, PgSnapshotLease, PgTransportFactory}
import graft.sources.postgres._
import graft.sqlgen.PgSqlGen.ScanColumn

/** In-memory spans (name, start, end, parent, operation id), written out
  * when the run ends. Disabled tracers only run the body. */
final class Tracer(enabled: Boolean) {
  import Tracer.Span
  private val spans = ArrayBuffer.empty[Span]
  private val stack = ThreadLocal.withInitial[List[Int]](() => Nil)
  private val next = new java.util.concurrent.atomic.AtomicInteger()

  def span[A](name: String, opId: Int)(body: => A): A =
    if (!enabled) body
    else {
      val id = next.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(0)
      stack.set(id :: stack.get)
      val t0 = System.nanoTime
      try body
      finally {
        stack.set(stack.get.tail)
        val s = Span(id, name, opId, parent, t0, System.nanoTime)
        spans.synchronized(spans += s)
      }
    }

  /** Summed duration of the spans with this name under one operation. */
  def seconds(name: String, opId: Int): Double = spans.synchronized {
    spans.iterator.filter(s => s.name == name && s.opId == opId).map(s => s.endNs - s.startNs).sum / 1e9
  }

  def write(f: File): Unit = {
    val arr = Main.json.createArrayNode()
    spans.foreach { s =>
      arr.addObject().put("id", s.id).put("name", s.name).put("op", s.opId)
        .put("parent", s.parent).put("start_ns", s.startNs).put("end_ns", s.endNs)
    }
    Main.json.writeValue(f, arr)
  }
}

object Tracer {
  final case class Span(id: Int, name: String, opId: Int, parent: Int, startNs: Long, endNs: Long)
}

/** PostgresCatalog with timed table loads (traced runs only). */
class TimedCatalog extends graft.catalog.PostgresCatalog {
  override def loadTable(ident: Identifier): Table = {
    val t0 = System.nanoTime
    try super.loadTable(ident)
    finally TimedCatalog.record(System.nanoTime - t0)
  }
}

object TimedCatalog {
  private val calls = new java.util.concurrent.atomic.AtomicLong()
  private val nanos = new java.util.concurrent.atomic.AtomicLong()
  def record(ns: Long): Unit = { calls.incrementAndGet(); nanos.addAndGet(ns) }
  def snapshot(): (Long, Long) = (calls.get, nanos.get)
}

/** Task and job counters for the operation in flight. */
final class StatsListener extends SparkListener {
  var taskCpuNs, gcMs, shuffleWriteBytes, spillBytes, failures, jobMs = 0L
  var lastJobEndMs = 0L
  val stageCpuNs = mutable.Map.empty[Int, Long]
  private val jobStarts = mutable.Map.empty[Int, Long]

  def reset(): Unit = synchronized {
    taskCpuNs = 0; gcMs = 0; shuffleWriteBytes = 0; spillBytes = 0; failures = 0; jobMs = 0
    lastJobEndMs = 0; stageCpuNs.clear()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (e.reason != org.apache.spark.Success) failures += 1
    val m = e.taskMetrics
    if (m != null) {
      taskCpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      stageCpuNs(e.stageId) = stageCpuNs.getOrElse(e.stageId, 0L) + m.executorCpuTime
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStarts(e.jobId) = e.time
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStarts.remove(e.jobId).foreach(s => jobMs += e.time - s)
    lastJobEndMs = math.max(lastJobEndMs, e.time)
  }
}

object LayerProbe {
  final case class ScanSteps(drainS: Double, decodeS: Double, forceS: Double, bytes: Long)
  final case class WriteSteps(encodeS: Double, copyInS: Double, writeS: Double, bytes: Long, rows: Long)
}

/** The traced run's per-operation probes and the layer ladders. */
final class LayerProbe(spark: SparkSession, tracer: Tracer, dsn: Option[String]) {
  import LayerProbe._
  private val listener = new StatsListener
  spark.sparkContext.addSparkListener(listener)
  private val samples = ArrayBuffer.empty[Map[String, Double]]
  private var pool0 = (0L, 0L)
  private var catalog0 = (0L, 0L)

  private def poolStats: (Long, Long) = dsn.map(PgConnectionPool.stats).getOrElse((0L, 0L))

  def beforeOp(): Unit = {
    ListenerBusAccess.drain(spark.sparkContext)
    listener.reset()
    pool0 = poolStats
    catalog0 = TimedCatalog.snapshot()
  }

  def afterOp(opId: Int, name: String, outcome: Option[Outcome]): Unit = {
    val endMs = System.currentTimeMillis()
    ListenerBusAccess.drain(spark.sparkContext)
    val (acq, reuse) = poolStats
    val (calls, nanos) = TimedCatalog.snapshot()
    val m = mutable.Map[String, Double](
      "spark.exec_s" -> listener.jobMs / 1e3,
      "spark.task_cpu_s" -> listener.taskCpuNs / 1e9,
      "spark.gc_s" -> listener.gcMs / 1e3,
      "spark.shuffle_write_mb" -> listener.shuffleWriteBytes / 1e6,
      "spark.spill_mb" -> listener.spillBytes / 1e6,
      "spark.task_failures" -> listener.failures.toDouble,
      "operators.top_stage_cpu_s" -> listener.stageCpuNs.values.maxOption.getOrElse(0L) / 1e9,
      "meta.pool_acquires" -> (acq - pool0._1).toDouble,
      "meta.pool_reuses" -> (reuse - pool0._2).toDouble,
      "meta.leases_open_after_op" -> PgSnapshotLease.activeLeases.toDouble,
      "catalog.load_table_calls" -> (calls - catalog0._1).toDouble,
      "catalog.load_table_s" -> (nanos - catalog0._2) / 1e9,
      "sources.plan_s" -> tracer.seconds("sources.plan", opId))
    outcome match {
      case Some(Outcome(_, _, Some(df))) =>
        val scans = Plans.pgScans(df)
        m("sources.partitions") = scans.map(_.partitions).sum.toDouble
        m("sources.rows_shipped") = scans.map(_.shipped).sum.toDouble
        m("sources.rows_kept") = scans.map(_.kept).sum.toDouble
      case Some(_) if listener.lastJobEndMs > 0 =>
        // a write: the driver-side staged promote runs after the last job
        m("sources.commit_s") = (endMs - listener.lastJobEndMs) / 1e3
      case _ => ()
    }
    samples += m.toMap
  }

  /** Per-operation means of the additive counters, plus the ratios. */
  def metrics(): mutable.Map[String, Double] = {
    val n = math.max(samples.size, 1).toDouble
    val keys = samples.flatMap(_.keys).distinct
    val out = mutable.Map.empty[String, Double]
    keys.foreach(k => out(k) = samples.flatMap(_.get(k)).sum / n)
    def total(k: String) = samples.flatMap(_.get(k)).sum
    out("meta.pool_reuse_ratio") = total("meta.pool_reuses") / math.max(total("meta.pool_acquires"), 1.0)
    out("meta.leases_open_after_op") = samples.flatMap(_.get("meta.leases_open_after_op")).maxOption.getOrElse(0.0)
    out("spark.task_failures") = total("spark.task_failures")
    if (keys.contains("sources.rows_shipped"))
      out("sources.pushdown_yield") =
        total("sources.rows_kept") / math.max(total("sources.rows_shipped"), 1.0)
    out("operators.top_stage_cpu_s") =
      Stats.median(samples.flatMap(_.get("operators.top_stage_cpu_s")).toSeq)
    out --= Seq("meta.pool_acquires", "meta.pool_reuses", "sources.rows_kept")
    out
  }

  /** Scan ladder over `df`'s own planned partitions: (1) the server COPY
    * drained through the transport, (2) the same plus decode through the
    * library's partition readers, (3) full Spark forcing. Each step is
    * the median of three. */
  def scanLadder(dsn: String, cpus: Int, make: () => DataFrame): ScanSteps = {
    val scan = Plans.nodes(make().queryExecution.executedPlan).collectFirst {
      case b: BatchScanExec if b.scan.isInstanceOf[PostgresScan] => b
    }.get
    val parts = scan.inputPartitions.map(_.asInstanceOf[PostgresInputPartition])
      .map(p => PostgresInputPartition(p.dsn, p.sql, None))
    // the ladder reads without the exported snapshot; release it now
    PgSnapshotLease.releaseAll()
    val required = scan.scan.readSchema()
    val table = PostgresTable.discover(PostgresOptions(Map("dsn" -> dsn, "table" -> "lineitem")))
    val cols = required.fields.toSeq.map(f => ScanColumn(f.name, table.pgColumns.find(_._1 == f.name).get._2))
    val factory = new PostgresReaderFactory(cols, required, vectorized = true)
    val bytes = new java.util.concurrent.atomic.AtomicLong()

    def drain(p: PostgresInputPartition): Unit = {
      val t = PgTransportFactory.open(p.dsn)
      try {
        val in = t.copyOut(p.sql)
        val buf = new Array[Byte](1 << 16)
        var n = in.read(buf)
        while (n >= 0) { bytes.addAndGet(n); n = in.read(buf) }
        in.close()
      } finally t.close()
    }
    def decode(p: PostgresInputPartition): Unit =
      if (factory.supportColumnarReads(p)) {
        val r = factory.createColumnarReader(p)
        try while (r.next()) r.get() finally r.close()
      } else {
        val r = factory.createReader(p)
        try while (r.next()) r.get() finally r.close()
      }

    val drainS = median3(tracer.span("ladder.meta", -1)(parallel(cpus, parts)(drain)))
    val total = bytes.get / 3
    val decodeS = median3(tracer.span("ladder.codec", -1)(parallel(cpus, parts)(decode)))
    // a fresh DataFrame per repetition: forcing one twice reuses its
    // partitions' exported snapshot, which is gone after the first run
    val forceS = median3(tracer.span("ladder.spark", -1) {
      val df = make()
      df.queryExecution.executedPlan // planning is sources.plan_s, not this step
      val t0 = System.nanoTime
      df.queryExecution.toRdd.foreach(_ => ())
      (System.nanoTime - t0) / 1e9
    })
    ScanSteps(drainS, decodeS, forceS, total)
  }

  /** Write ladder over `src`'s rows: (1) PGCOPY encode only, (2) raw
    * COPY-in of the encoded bytes, (3) the full staged Spark write, all
    * into a scratch copy of `like`, with `cpus` parallel streams. */
  def writeLadder(dsn: String, cpus: Int, src: DataFrame, like: String): WriteSteps = {
    val rows: Array[InternalRow] = src.queryExecution.toRdd.map(_.copy()).collect()
    val chunks = rows.grouped(math.max(1, (rows.length + cpus - 1) / cpus)).toSeq
    val table = PostgresTable.discover(PostgresOptions(Map("dsn" -> dsn, "table" -> like)))
    val types = table.pgColumns.map(_._2)
    val sparkTypes = src.schema.fields.map(_.dataType).toSeq
    val sink = "ladder_sink"
    admin(dsn, s"DROP TABLE IF EXISTS $sink; CREATE TABLE $sink (LIKE $like)")
    var encoded: Seq[Array[Byte]] = Nil

    def encode(chunk: Array[InternalRow]): Array[Byte] = {
      val w = new graft.codec.PgBinaryWriter(types, sparkTypes)
      val bos = new ByteArrayOutputStream()
      val out = new DataOutputStream(bos)
      w.writeHeader(out)
      chunk.foreach(r => w.writeRow(out, r))
      w.writeTrailer(out)
      out.flush()
      bos.toByteArray
    }
    val encodeS = median3(tracer.span("ladder.codec", -1) {
      val t0 = System.nanoTime
      encoded = parallelMap(cpus, chunks)(encode)
      (System.nanoTime - t0) / 1e9
    })
    val copyInS = median3(tracer.span("ladder.meta", -1) {
      admin(dsn, s"TRUNCATE $sink")
      parallel(cpus, encoded) { b =>
        val t = PgTransportFactory.open(dsn)
        try {
          val out = t.copyIn(s"COPY $sink FROM STDIN (FORMAT binary)")
          out.write(b)
          out.close()
        } finally t.close()
      }
    })
    val writeS = median3(tracer.span("ladder.sources", -1) {
      admin(dsn, s"TRUNCATE $sink")
      val t0 = System.nanoTime
      src.write.format("postgres").option("dsn", dsn).option("table", sink)
        .option("connectionLimit", cpus.toString).mode("append").save()
      (System.nanoTime - t0) / 1e9
    })
    admin(dsn, s"DROP TABLE $sink")
    WriteSteps(encodeS, copyInS, writeS, encoded.map(_.length.toLong).sum, rows.length.toLong)
  }

  private def admin(dsn: String, sql: String): Unit = {
    val t = PgTransportFactory.open(dsn)
    try sql.split(";").map(_.trim).filter(_.nonEmpty).foreach(t.execute) finally t.close()
  }

  private def median3(step: => Double): Double = Stats.median(Seq.fill(3)(step))

  /** Wall seconds to run `f` over `items` on `threads` threads. */
  private def parallel[A](threads: Int, items: Seq[A])(f: A => Unit): Double = {
    val t0 = System.nanoTime
    parallelMap(threads, items)(f)
    (System.nanoTime - t0) / 1e9
  }

  private def parallelMap[A, B](threads: Int, items: Seq[A])(f: A => B): Seq[B] = {
    val pool = Executors.newFixedThreadPool(threads)
    try {
      val futures = items.map(i => pool.submit(new Callable[B] { def call(): B = f(i) }))
      futures.map(_.get())
    } finally pool.shutdown()
  }
}

/** Walks executed plans, through adaptive stages and subqueries. */
object Plans {
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case r: ReusedExchangeExec => Seq(r)
    case other => other +: (other.children.flatMap(nodes) ++ other.subqueries.flatMap(nodes))
  }

  private def outRows(p: SparkPlan): Option[Long] = p.metrics.get("numOutputRows").map(_.value)

  /** Rows produced by every leaf scan of the executed plan. */
  def scanRows(df: DataFrame): Long =
    nodes(df.queryExecution.executedPlan).filter(_.children.isEmpty).flatMap(outRows).sum

  final case class PgScan(partitions: Int, shipped: Long, kept: Long)

  /** Each PostgreSQL scan with the rows kept by the first operator above
    * it that counts its output (wrappers that only convert or adapt rows
    * are looked through). */
  def pgScans(df: DataFrame): Seq[PgScan] = {
    val found = ArrayBuffer.empty[PgScan]
    def passThrough(p: SparkPlan) = p match {
      case _: ColumnarToRowExec | _: InputAdapter | _: WholeStageCodegenExec => true
      case _ => outRows(p).isEmpty
    }
    // returns the scans below `p` still waiting for a counting consumer
    def walk(p: SparkPlan): Seq[BatchScanExec] = {
      val pending = p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case _: ReusedExchangeExec => Nil
        case b: BatchScanExec if b.scan.isInstanceOf[PostgresScan] => Seq(b)
        case other =>
          other.subqueries.foreach(s => walk(s).foreach(flush(_, None)))
          other.children.flatMap(walk)
      }
      if (pending.nonEmpty && !pending.contains(p) && !passThrough(p)) {
        pending.foreach(flush(_, outRows(p)))
        Nil
      } else pending
    }
    def flush(b: BatchScanExec, kept: Option[Long]): Unit = {
      val shipped = outRows(b).getOrElse(0L)
      found += PgScan(b.inputPartitions.size, shipped, kept.getOrElse(shipped))
    }
    walk(df.queryExecution.executedPlan).foreach(flush(_, None))
    found.toSeq
  }
}
