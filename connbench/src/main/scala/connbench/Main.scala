package connbench

import java.io.{BufferedReader, File, InputStreamReader}
import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{JsonNodeFactory, ObjectNode}
import org.apache.spark.sql.SparkSession

/** The benchmark's JVM: one Spark driver on local[N] that runs a
  * workload's fixed operation sequence against the library's public API.
  *
  * It is driven by run.py over stdin/stdout. Lines it prints that start
  * with "@@" are protocol lines; everything else is log.
  *   1. start the session, print "@@session", read the plan path;
  *   2. set up the workload and warm up, print "@@timed <epoch ms>";
  *   3. run the timed operations; an operation that needs an outside
  *      check prints "@@check <op id>" and waits for run.py's reply;
  *      a traced run brackets the timed phase with "@@mark" lines;
  *   4. write the result file named in the plan and print "@@done".
  *
  * Usage: java -cp <classpath> connbench.Main <cpus> <work dir>
  */
object Main {
  val json = new ObjectMapper()
  private val nodes = JsonNodeFactory.instance
  private val stdin = new BufferedReader(new InputStreamReader(System.in))

  def say(line: String): Unit = { System.out.println("@@" + line); System.out.flush() }

  /** Print a protocol line and block until run.py answers. */
  def ask(line: String): String = {
    say(line)
    val reply = stdin.readLine()
    if (reply == null) throw new IllegalStateException("run.py closed the control channel")
    reply
  }

  def main(args: Array[String]): Unit = {
    val cpus = args(0).toInt
    val workDir = new File(args(1)).getAbsolutePath
    val spark = session(cpus, workDir)
    val plan = json.readTree(new File(ask("session")))
    val out = try run(spark, cpus, plan) finally spark.stop()
    json.writeValue(new File(plan.get("result_path").asText), out)
    say("done")
  }

  def session(cpus: Int, workDir: String): SparkSession = {
    // the library's connection budget is global and fixed when a DSN's
    // pool is first created: set it before anything connects
    graft.meta.PgTransportFactory.setConnectionLimit(cpus)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("connbench")
      // the same session settings graft.Bench uses
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.plans.FastDoubleDecimalSumRule.install(spark)
    spark
  }

  final case class OpRecord(
      id: Int, name: String, latencyS: Double, pgCpuS: Double, jvmCpuS: Double,
      error: Option[String], outcome: Option[Outcome])

  def run(spark: SparkSession, cpus: Int, plan: JsonNode): ObjectNode = {
    val trace = plan.get("trace").asBoolean
    val pgCpu = Option(plan.get("postmaster_pid")).filterNot(_.isNull)
      .map(p => new ServerCpu(p.asInt))
    val tracer = new Tracer(enabled = trace)
    val workload = Workload(plan.get("workload").asText, spark, cpus, plan, tracer)
    workload.setup()
    warmUp(workload, plan.get("warmup").asScala.toSeq, cpus)
    // the timed phase starts without leases left open by warm-up failures
    graft.meta.PgSnapshotLease.releaseAll()
    val ops = plan.get("ops").asScala.toSeq

    val out = nodes.objectNode()
    out.set[JsonNode]("oracle_sql", workload.oracleSql(ops))
    say(s"timed ${System.currentTimeMillis()}")

    // a traced run also runs the sequence untraced, before and after the
    // traced pass, so the overhead of tracing is measured in one process
    def untracedPass() = timed(workload, ops, pgCpu, None, tracer, checks = false)
    val before = if (trace) untracedPass() else Nil
    if (trace) ask("mark timed_start")
    val dsn = Option(plan.get("dsn")).filterNot(_.isNull).map(_.asText)
    val layers = if (trace) Some(new LayerProbe(spark, tracer, dsn)) else None
    val records = timed(workload, ops, pgCpu, layers, tracer, checks = true)
    if (trace) ask("mark timed_end")
    val after = if (trace) untracedPass() else Nil

    out.set[JsonNode]("ops", opsJson(records))
    out.put("jvm_peak_rss_mb", Proc.peakRssMb())
    layers.foreach { l =>
      val perLayer = l.metrics()
      try perLayer ++= workload.layerMetrics(l, records)
      catch { case e: Throwable => System.err.println(s"[connbench] layer ladder failed: $e") }
      def p50(rs: Seq[OpRecord]) = Stats.median(rs.map(_.latencyS))
      perLayer("trace.overhead_s") = p50(records) - (p50(before) + p50(after)) / 2
      // the operator layer's pass (see run.py): LLM-pipeline entries over
      // parquet, after the workload's own traced pass
      Option(plan.get("operator_ops")).foreach { opOps =>
        val llm = new LlmOps(spark, cpus, plan, tracer)
        warmUp(llm, plan.get("operator_warmup").asScala.toSeq, cpus)
        val probe = new LayerProbe(spark, tracer, None)
        val opRecords = timed(llm, opOps.asScala.toSeq, None, Some(probe), tracer, checks = false)
        perLayer("operators.top_stage_cpu_s") = probe.metrics()("operators.top_stage_cpu_s")
        perLayer ++= llm.layerMetrics(probe, opRecords)
        out.set[JsonNode]("operator_ops", opsJson(opRecords))
        out.set[JsonNode]("operator_oracle_sql", llm.oracleSql(opOps.asScala.toSeq))
      }
      val pl = nodes.objectNode()
      perLayer.toSeq.sortBy(_._1).foreach { case (k, v) => pl.put(k, v) }
      out.set[JsonNode]("per_layer", pl)
      tracer.write(new File(plan.get("trace_path").asText))
    }
    out
  }

  /** Warm-up compiles each operation once; read-only workloads warm up
    * on all cores at once, writes in order. Failures are ignored here. */
  def warmUp(workload: Workload, warm: Seq[JsonNode], cpus: Int): Unit = {
    def warmOne(op: JsonNode): Unit = try workload.run(op) catch { case _: Throwable => () }
    if (workload.readOnly) {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(cpus)
      try warm.map(op => pool.submit(new Runnable { def run(): Unit = warmOne(op) }))
        .foreach(_.get())
      finally pool.shutdown()
    } else warm.foreach(warmOne)
  }

  /** The timed phase: each operation is timed alone; CPU is sampled
    * around it, and result capture and checks happen after the clock
    * stops. */
  def timed(
      workload: Workload, ops: Seq[JsonNode], pgCpu: Option[ServerCpu],
      layers: Option[LayerProbe], tracer: Tracer, checks: Boolean): Seq[OpRecord] = {
    val records = ArrayBuffer.empty[OpRecord]
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    ops.foreach { op =>
      val id = op.get("id").asInt
      val name = op.get("name").asText
      layers.foreach(_.beforeOp())
      val c0 = pgCpu.map(_.seconds()).getOrElse(0.0)
      val j0 = os.getProcessCpuTime
      val t0 = System.nanoTime
      val result =
        try Right(tracer.span("op." + name, id)(workload.run(op)))
        catch { case e: Throwable => Left(e) }
      val t1 = System.nanoTime
      val j1 = os.getProcessCpuTime
      val c1 = pgCpu.map(_.seconds()).getOrElse(0.0)
      layers.foreach(_.afterOp(id, name, result.toOption))
      result.left.foreach(e => System.err.println(s"[connbench] op $id $name failed: $e"))
      if (checks && op.has("check")) ask(s"check $id")
      records += OpRecord(id, name, (t1 - t0) / 1e9, c1 - c0, (j1 - j0) / 1e9,
        result.left.toOption.map(e => s"${e.getClass.getSimpleName}: ${e.getMessage}"),
        result.toOption)
    }
    records.toSeq
  }

  private def opsJson(records: Seq[OpRecord]): JsonNode = {
    val arr = nodes.arrayNode()
    records.foreach { r =>
      val o = arr.addObject()
      o.put("id", r.id)
      o.put("name", r.name)
      o.put("latency_s", r.latencyS)
      o.put("pg_cpu_s", r.pgCpuS)
      o.put("jvm_cpu_s", r.jvmCpuS)
      r.error.foreach(e => o.put("error", e.take(500)))
      r.outcome.foreach { oc =>
        o.put("rows", oc.rows)
        oc.result.foreach(v => o.set[JsonNode]("result", v))
      }
    }
    arr
  }
}

/** CPU of every process of one PostgreSQL server, from /proc: the live
  * children of the postmaster plus the postmaster's own and its reaped
  * children's time. */
final class ServerCpu(postmasterPid: Int) {
  private val tick = 100.0 // USER_HZ on Linux

  def seconds(): Double = {
    var total = Proc.stat(postmasterPid).map(f => f(11) + f(12) + f(13) + f(14)).getOrElse(0L)
    Proc.children(postmasterPid).foreach { pid =>
      total += Proc.stat(pid).map(f => f(11) + f(12)).getOrElse(0L)
    }
    total / tick
  }
}

object Proc {
  /** Numeric fields of /proc/<pid>/stat after the command name; index
    * 0 is the state (field 3 of proc(5)), so utime is index 11. */
  def stat(pid: Int): Option[Array[Long]] =
    try {
      val s = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"/proc/$pid/stat")))
      val fields = s.substring(s.lastIndexOf(')') + 2).split(' ')
      Some(fields.map(f => try f.toLong catch { case _: NumberFormatException => 0L }))
    } catch { case _: java.io.IOException => None }

  def children(ppid: Int): Seq[Int] = {
    val dirs = Option(new File("/proc").list()).getOrElse(Array.empty[String])
    dirs.iterator.filter(d => d.nonEmpty && d.forall(_.isDigit)).map(_.toInt)
      .filter(pid => stat(pid).exists(_(1) == ppid)).toSeq
  }

  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
    }
}
