package connbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.{ArrayNode, JsonNodeFactory, ObjectNode}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit}
import org.apache.spark.sql.types._

/** What one operation returns: the rows it delivered (scans) or read
  * (queries), a canonical copy of its result for the outside check, and
  * the executed DataFrame for the traced run's plan walk. */
final case class Outcome(rows: Long, result: Option[JsonNode], df: Option[DataFrame] = None)

/** One workload: set-up, the operations run.py sequences, the oracle SQL
  * for its checks, and the traced run's extra per-layer measurements. */
abstract class Workload(val spark: SparkSession, val cpus: Int, plan: JsonNode, tracer: Tracer) {
  protected val nodes: JsonNodeFactory = JsonNodeFactory.instance
  protected val dsn: String = Option(plan.get("dsn")).filterNot(_.isNull).map(_.asText).orNull
  protected val dataDir: String = plan.get("data_dir").asText
  protected val traced: Boolean = plan.get("trace").asBoolean

  def setup(): Unit = ()
  def run(op: JsonNode): Outcome
  def readOnly: Boolean = true
  def oracleSql(ops: Seq[JsonNode]): ObjectNode = nodes.objectNode()
  def layerMetrics(probe: LayerProbe, records: Seq[Main.OpRecord]): Map[String, Double] = Map.empty

  protected def pgRead(table: String): DataFrame =
    spark.read.format("postgres")
      .option("dsn", dsn).option("table", table)
      .option("connectionLimit", cpus.toString)
      .load()

  /** Attach the server as catalog `pg` and make `pg.public` current, so
    * the unprefixed query text resolves through PostgresCatalog. */
  protected def attachCatalog(): Unit = {
    val cls = if (traced) classOf[TimedCatalog].getName else "graft.catalog.PostgresCatalog"
    spark.conf.set("spark.sql.catalog.pg", cls)
    spark.conf.set("spark.sql.catalog.pg.dsn", dsn)
    spark.conf.set("spark.sql.catalog.pg.connectionLimit", cpus.toString)
    spark.sql("USE pg.public")
  }

  /** Parse/analyse and plan inside a `sources.plan` span, then collect. */
  protected def collectQuery(opId: Int, make: => DataFrame): Outcome = {
    val df = tracer.span("sources.plan", opId) {
      val d = make
      d.queryExecution.executedPlan
      d
    }
    val rows = tracer.span("spark.execute", opId)(df.collect())
    Outcome(Plans.scanRows(df), Some(Canon.rows(df.schema, rows)), Some(df))
  }

  protected def sqlOracle(ops: Seq[JsonNode]): ObjectNode = {
    val out = nodes.objectNode()
    ops.map(_.get("name").asText).distinct.foreach(n => out.put(n, graft.SparkEntry.oracleSql(n)))
    out
  }
}

object Workload {
  def apply(name: String, spark: SparkSession, cpus: Int, plan: JsonNode, tracer: Tracer): Workload =
    name match {
      case "bulk_scan" => new BulkScan(spark, cpus, plan, tracer)
      case "attached_analytics" => new AttachedAnalytics(spark, cpus, plan, tracer)
      case "write_dml" => new WriteDml(spark, cpus, plan, tracer)
      case "llm_ops" => new LlmOps(spark, cpus, plan, tracer)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
}

/** Full-width, 2-column and pushed filter/count scans of `lineitem`. */
final class BulkScan(spark: SparkSession, cpus: Int, plan: JsonNode, tracer: Tracer)
    extends Workload(spark, cpus, plan, tracer) {

  private def frame(op: JsonNode): DataFrame = {
    var df = pgRead("lineitem")
    Option(op.get("filter")).foreach(f => df = df.filter(f.asText))
    Option(op.get("cols")).foreach(c => df = df.select(c.asScala.map(x => col(x.asText)).toSeq: _*))
    df
  }

  override def run(op: JsonNode): Outcome = {
    val id = op.get("id").asInt
    if (op.path("count").asBoolean) {
      val df = frame(op).agg(count(lit(1)).as("n"))
      tracer.span("sources.plan", id)(df.queryExecution.executedPlan)
      val n = tracer.span("spark.execute", id)(df.collect()).head.getLong(0)
      val res = nodes.arrayNode().add(n)
      Outcome(n, Some(res), Some(df))
    } else {
      val df = frame(op)
      tracer.span("sources.plan", id)(df.queryExecution.executedPlan)
      val sums = tracer.span("spark.execute", id)(Checksum.force(df))
      val res = nodes.arrayNode()
      sums.foreach(s => res.add(s))
      Outcome(sums.head, Some(res), Some(df))
    }
  }

  /** The scan layer ladder over the full-width and the 2-column scan. */
  override def layerMetrics(probe: LayerProbe, records: Seq[Main.OpRecord]): Map[String, Double] = {
    val shapes = Seq(
      nodes.objectNode().put("id", -1).put("name", "ladder_full"),
      {
        val o = nodes.objectNode().put("id", -2).put("name", "ladder_cols")
        o.putArray("cols").add("l_orderkey").add("l_extendedprice")
        o
      })
    val steps = shapes.map(op => probe.scanLadder(dsn, cpus, () => frame(op)))
    val drainS = steps.map(_.drainS).sum
    val decodeS = steps.map(_.decodeS).sum
    val forceS = steps.map(_.forceS).sum
    val mb = steps.map(_.bytes).sum / 1e6
    Map(
      "meta.copy_out_mb" -> mb,
      "meta.copy_drain_s" -> drainS,
      "codec.decode_s" -> (decodeS - drainS),
      "codec.decode_mb_per_s" -> mb / math.max(decodeS - drainS, 1e-6),
      "spark.force_self_s" -> (forceS - decodeS))
  }
}

/** TPC-H-shaped catalog queries (c16 = Q1, the TpchCatalog templates =
  * Q2..Q22) as unprefixed text through the attached catalog. */
final class AttachedAnalytics(spark: SparkSession, cpus: Int, plan: JsonNode, tracer: Tracer)
    extends Workload(spark, cpus, plan, tracer) {

  override def setup(): Unit = attachCatalog()

  override def run(op: JsonNode): Outcome =
    collectQuery(op.get("id").asInt, spark.sql(graft.SparkEntry.oracleSql(op.get("name").asText)))

  override def oracleSql(ops: Seq[JsonNode]): ObjectNode = sqlOracle(ops)
}

/** The ROADMAP hot-spot operators through `SparkEntry.queries` over
  * parquet. */
final class LlmOps(spark: SparkSession, cpus: Int, plan: JsonNode, tracer: Tracer)
    extends Workload(spark, cpus, plan, tracer) {

  override def run(op: JsonNode): Outcome = {
    val name = op.get("name").asText
    collectQuery(op.get("id").asInt, graft.SparkEntry.queries(name)(spark, dataDir))
  }

  override def oracleSql(ops: Seq[JsonNode]): ObjectNode = sqlOracle(ops)

  override def layerMetrics(probe: LayerProbe, records: Seq[Main.OpRecord]): Map[String, Double] =
    records.groupBy(_.name).map { case (n, rs) =>
      s"operators.${n}_s" -> Stats.median(rs.map(_.latencyS))
    }
}

/** Staged binary COPY appends and overwrites, one text-COPY append,
  * ctid-keyed UPDATE / DELETE / MERGE and a pushed DELETE ... WHERE,
  * against `w_lineitem` and `w_orders`. */
final class WriteDml(spark: SparkSession, cpus: Int, plan: JsonNode, tracer: Tracer)
    extends Workload(spark, cpus, plan, tracer) {

  override def readOnly: Boolean = false
  private val keyOf = Map("lineitem" -> "l_orderkey", "orders" -> "o_orderkey")
  private val sources = mutable.Map.empty[String, DataFrame]

  override def setup(): Unit = {
    attachCatalog()
    keyOf.keys.foreach { t =>
      val df = spark.read.parquet(s"$dataDir/$t.parquet").cache()
      df.count()
      sources(t) = df
    }
  }

  private def slice(table: String, op: JsonNode): DataFrame =
    sources(table).filter(col(keyOf(table)) % op.get("mod").asInt === op.get("rem").asInt)

  override def run(op: JsonNode): Outcome = {
    val id = op.get("id").asInt
    val table = op.path("table").asText("lineitem")
    val target = s"pg.public.w_$table"
    val key = keyOf(table)
    op.get("kind").asText match {
      case "write" =>
        slice(table, op).write.format("postgres")
          .option("dsn", dsn).option("table", s"w_$table")
          .option("connectionLimit", cpus.toString)
          .option("useBinaryCopy", (!op.path("text").asBoolean).toString)
          .mode(op.get("mode").asText)
          .save()
      case "update" =>
        spark.sql(s"UPDATE $target SET l_tax = l_tax + 0.01 " +
          s"WHERE $key % ${op.get("mod").asInt} = ${op.get("rem").asInt}")
      case "delete" =>
        spark.sql(s"DELETE FROM $target WHERE $key % ${op.get("mod").asInt} = ${op.get("rem").asInt}")
      case "pushed_delete" =>
        val from = op.get("from").asLong
        spark.sql(s"DELETE FROM $target WHERE $key >= $from AND $key < ${from + op.get("width").asLong}")
      case "merge" =>
        slice(table, op).createOrReplaceTempView("merge_src")
        spark.sql(s"MERGE INTO $target t USING merge_src s ON t.o_orderkey = s.o_orderkey " +
          "WHEN MATCHED THEN UPDATE SET t.o_totalprice = s.o_totalprice + 1.0 " +
          "WHEN NOT MATCHED THEN INSERT *")
      case other => throw new IllegalArgumentException(s"unknown write op $other")
    }
    Outcome(0L, None)
  }

  /** The write layer ladder: encode only, raw COPY-in of the encoded
    * bytes, and the full staged Spark write of the same rows. */
  override def layerMetrics(probe: LayerProbe, records: Seq[Main.OpRecord]): Map[String, Double] = {
    val src = slice("lineitem", nodes.objectNode().put("mod", 6).put("rem", 0))
    val step = probe.writeLadder(dsn, cpus, src, "w_lineitem")
    Map(
      "codec.encode_s" -> step.encodeS,
      "codec.encode_mb_per_s" -> step.bytes / 1e6 / math.max(step.encodeS, 1e-6),
      "meta.copy_in_s" -> step.copyInS,
      "sources.write_self_s" -> (step.writeS - step.copyInS - step.encodeS),
      "codec.bytes_per_row" -> step.bytes.toDouble / math.max(step.rows, 1L))
  }
}

/** Order-insensitive canonical result rows as JSON, decoded by run.py. */
object Canon {
  private val nodes = JsonNodeFactory.instance

  def rows(schema: StructType, rows: Array[Row]): JsonNode = {
    val out = nodes.objectNode()
    val cols = out.putArray("cols")
    schema.fieldNames.foreach(n => cols.add(n))
    val data = out.putArray("rows")
    rows.foreach(r => data.add(value(r)))
    out
  }

  private def value(v: Any): JsonNode = v match {
    case null => nodes.nullNode()
    case b: Boolean => nodes.booleanNode(b)
    case n: Byte => nodes.numberNode(n.toLong)
    case n: Short => nodes.numberNode(n.toLong)
    case n: Int => nodes.numberNode(n.toLong)
    case n: Long => nodes.numberNode(n)
    case f: Float => dbl(f.toDouble)
    case d: Double => dbl(d)
    case d: java.math.BigDecimal => nodes.objectNode().put("dec", d.toPlainString)
    case d: scala.math.BigDecimal => nodes.objectNode().put("dec", d.bigDecimal.toPlainString)
    case t: java.sql.Timestamp =>
      val i = t.toInstant
      nodes.objectNode().put("ts", i.getEpochSecond * 1000000L + i.getNano / 1000)
    case i: java.time.Instant =>
      nodes.objectNode().put("ts", i.getEpochSecond * 1000000L + i.getNano / 1000)
    case t: java.time.LocalDateTime =>
      value(t.toInstant(java.time.ZoneOffset.UTC))
    case d: java.sql.Date => nodes.objectNode().put("date", d.toLocalDate.toEpochDay)
    case d: java.time.LocalDate => nodes.objectNode().put("date", d.toEpochDay)
    case s: String => nodes.textNode(s)
    case b: Array[Byte] => nodes.objectNode().put("bin", b.map("%02x".format(_)).mkString)
    case r: Row => list(r.toSeq)
    case m: scala.collection.Map[_, _] =>
      val a = nodes.arrayNode()
      m.foreach { case (k, x) => a.add(nodes.arrayNode().add(value(k)).add(value(x))) }
      nodes.objectNode().set[JsonNode]("map", a)
    case s: scala.collection.Seq[_] => list(s)
    case other => nodes.textNode(other.toString)
  }

  private def list(xs: Iterable[Any]): ArrayNode = {
    val a = nodes.arrayNode()
    xs.foreach(x => a.add(value(x)))
    a
  }

  private def dbl(d: Double): JsonNode =
    if (d.isNaN || d.isInfinite) nodes.objectNode().put("float", d.toString)
    else nodes.numberNode(d)
}

/** Forces a scan with `toRdd` and returns (rows, per-column sums), the
  * sums being integers run.py recomputes in DuckDB: integers as is,
  * doubles as round(x * 100), timestamps as whole epoch seconds, strings
  * as their UTF-8 byte length. */
object Checksum {
  def force(df: DataFrame): Seq[Long] = {
    val types = df.schema.fields.map(_.dataType)
    val sc = df.sparkSession.sparkContext
    val accs = (0 to types.length).map(_ => sc.longAccumulator)
    df.queryExecution.toRdd.foreachPartition { it =>
      val local = new Array[Long](types.length + 1)
      it.foreach { row =>
        local(0) += 1
        var i = 0
        while (i < types.length) {
          if (!row.isNullAt(i)) local(i + 1) += (types(i) match {
            case TimestampType | TimestampNTZType => Math.floorDiv(row.getLong(i), 1000000L)
            case LongType => row.getLong(i)
            case IntegerType => row.getInt(i).toLong
            case DoubleType => Math.round(row.getDouble(i) * 100)
            case StringType => row.getUTF8String(i).numBytes().toLong
            case _ => 0L
          })
          i += 1
        }
      }
      local.indices.foreach(i => accs(i).add(local(i)))
    }
    accs.map(_.value.longValue)
  }
}
